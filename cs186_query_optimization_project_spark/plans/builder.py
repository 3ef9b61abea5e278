"""Fluent relational query builder — the engine's primary user API.

Re-expresses the reference's ``QueryPlan`` builder
(``db/query/QueryPlan.java``): verbs only *record intent*
(``where``/``join``/``select``/``groupBy``/``count``/``sum``/``average``,
``QueryPlan.java:80–158``); ``execute()`` assembles the naive fixed pipeline
scan → joins → wheres → group-by → select (``QueryPlan.java:168–184``) and
``execute_optimal()`` runs the System-R search (``QueryPlan.java:193–226``).

Differences from the reference, by design:

- The "physical plan" we emit is a Spark *logical* plan — Catalyst applies
  predicate pushdown, column pruning and join selection regardless of the
  verb order, so the naive and optimal paths return identical results and
  differ only in declared join order + join-strategy hints.
- Name resolution follows the reference (dot-qualified ``alias.column``,
  unqualified names resolved against all tables in scope, ambiguity is an
  error — ``db/query/QueryOperator.java:109–156``) but is done eagerly at
  builder time so errors carry engine-level messages.
- Aggregate output columns keep the reference's names ``countAgg`` /
  ``sumAgg`` / ``averageAgg`` (``db/query/SelectOperator.java:118–135``)
  unless the caller aliases them.
- Beyond-reference verbs (min/max, having, order_by, limit, distinct,
  outer/semi/anti joins, multi-column group-by) are additive and documented
  as such (SURVEY.md §2.3–2.5).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cs186_query_optimization_project_spark.errors import QueryPlanException
from cs186_query_optimization_project_spark.predicates import (
    REFERENCE_OPS,
    PredicateOperator,
    coerce_op,
)

#: Spark join-strategy hints accepted by ``join(strategy=...)``, mapping the
#: reference's JoinType enum (``db/query/JoinOperator.java:19–24``) onto
#: Spark physical strategies: GRACEHASH → shuffle_hash, SNLJ/PNLJ/BNLJ have
#: no physical analog (Spark picks broadcast/SMJ); "auto" lets Catalyst+AQE
#: decide.
JOIN_STRATEGIES = ("auto", "broadcast", "broadcast_left", "merge",
                   "shuffle_hash", "shuffle_replicate_nl")

_AGG_FUNCS = {
    "count": F.count,
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
}


@dataclass(frozen=True)
class ColumnRef:
    """A resolved column: table alias + column name."""

    alias: str
    column: str

    @property
    def qualified(self) -> str:
        return f"{self.alias}.{self.column}"

    def spark(self) -> Column:
        return F.col(self.qualified)


@dataclass(frozen=True)
class JoinClause:
    table: str
    alias: str
    left: ColumnRef
    right: ColumnRef
    how: str = "inner"
    strategy: str = "auto"


@dataclass(frozen=True)
class WhereClause:
    ref: ColumnRef
    op: PredicateOperator
    value: Any

    def condition(self) -> Column:
        return self.op.apply(self.ref.spark(), self.value)

    def sql(self) -> str:
        return self.op.sql(self.ref.qualified, self.value)


@dataclass(frozen=True)
class AggClause:
    func: str  # count / sum / avg / min / max
    ref: ColumnRef | None  # None for count(*) or expression aggregates
    out: str
    #: exact mode: sum/avg over doubles go through DECIMAL(18,4) so the
    #: result is independent of partitioning/summation order (needed for
    #: bit-exact oracle comparison; float addition is not associative)
    exact: bool = False
    #: expression aggregate (additive): an arbitrary Column, e.g.
    #: ``sum(l_extendedprice * (1 - l_discount))`` — TPC-H-style revenue
    expr: Column | None = None

    def spark(self) -> Column:
        if self.expr is not None:
            col = self.expr
        elif self.ref is None:
            return F.count(F.lit(1)).alias(self.out)
        else:
            col = self.ref.spark()
        if self.exact and self.func == "sum":
            return F.sum(col.cast("decimal(18,4)")).cast("double") \
                    .alias(self.out)
        if self.exact and self.func == "avg":
            return (F.sum(col.cast("decimal(18,4)")).cast("double")
                    / F.count(col)).alias(self.out)
        return _AGG_FUNCS[self.func](col).alias(self.out)

    def sql(self) -> str:
        if self.expr is not None:
            arg = "<expr>"
        else:
            arg = "*" if self.ref is None else self.ref.qualified
        return f"{self.func.upper()}({arg}) AS {self.out}"


_COL_OPS = {
    PredicateOperator.EQUALS: lambda a, b: a == b,
    PredicateOperator.NOT_EQUALS: lambda a, b: a != b,
    PredicateOperator.LESS_THAN: lambda a, b: a < b,
    PredicateOperator.LESS_THAN_EQUALS: lambda a, b: a <= b,
    PredicateOperator.GREATER_THAN: lambda a, b: a > b,
    PredicateOperator.GREATER_THAN_EQUALS: lambda a, b: a >= b,
}


def _col_predicate(lref: ColumnRef, op: PredicateOperator,
                   rref: ColumnRef) -> Column:
    if op not in _COL_OPS:
        raise QueryPlanException(
            f"where_columns supports comparison operators only, got {op.name}")
    return _COL_OPS[op](lref.spark(), rref.spark())


@dataclass(frozen=True)
class SelectItem:
    ref: ColumnRef
    out: str  # output column name


class Query:
    """Builder instance; obtained via ``Database.query(table)``.

    Every verb returns ``self`` so calls chain.  Nothing touches Spark until
    ``execute()`` / ``execute_optimal()`` / ``to_df()``.
    """

    def __init__(self, db, table: str, alias: str | None = None):
        self.db = db
        self.base_table = table
        self.base_alias = alias or table
        self.joins: list[JoinClause] = []
        self.wheres: list[WhereClause] = []
        self.col_wheres: list[tuple[ColumnRef, PredicateOperator, ColumnRef]] = []
        self.havings: list[tuple[str, PredicateOperator, Any]] = []
        self.group_bys: list[ColumnRef] = []
        self.aggs: list[AggClause] = []
        self.selects: list[SelectItem] = []
        self.order_bys: list[tuple[ColumnRef | str, bool]] = []
        self.limit_n: int | None = None
        self.distinct_flag = False
        self.strict_reference_mode = False
        self._last_plan = None  # optimizer.PlannedQuery after execute_optimal
        self._plan_intent = None  # _intent_key() snapshot the plan is for

    # ------------------------------------------------------------------ #
    # scope & name resolution (QueryOperator.java:109–156)
    # ------------------------------------------------------------------ #
    def _scope(self) -> list[tuple[str, str, list[str]]]:
        """[(alias, table, columns)] for the base table + every join."""
        out = [(self.base_alias, self.base_table,
                self.db.schema(self.base_table).fieldNames())]
        for j in self.joins:
            out.append((j.alias, j.table, self.db.schema(j.table).fieldNames()))
        return out

    def resolve(self, name: str) -> ColumnRef:
        scope = self._scope()
        if "." in name:
            alias, col = name.split(".", 1)
            for a, _t, cols in scope:
                if a == alias:
                    if col not in cols:
                        raise QueryPlanException(
                            f"table '{alias}' has no column '{col}'")
                    return ColumnRef(alias, col)
            raise QueryPlanException(
                f"no table aliased '{alias}' in scope "
                f"(aliases: {[a for a, _, _ in scope]})")
        matches = [a for a, _t, cols in scope if name in cols]
        if not matches:
            raise QueryPlanException(f"no column '{name}' in scope")
        if len(matches) > 1:
            raise QueryPlanException(
                f"column '{name}' is ambiguous between tables {matches}; "
                f"qualify as 'alias.{name}'")
        return ColumnRef(matches[0], name)

    # ------------------------------------------------------------------ #
    # verbs — reference parity
    # ------------------------------------------------------------------ #
    def join(self, table: str, left_column: str, right_column: str,
             how: str = "inner", alias: str | None = None,
             strategy: str = "auto") -> "Query":
        """Equi-join on one column pair (``QueryPlan.join``,
        ``QueryPlan.java:154–158``).  ``how`` extends the reference's
        inner-only surface with Spark's outer/semi/anti forms; ``strategy``
        pins a physical join hint (GraceHash parity = ``shuffle_hash``)."""
        if strategy not in JOIN_STRATEGIES:
            raise QueryPlanException(
                f"unknown join strategy '{strategy}'; one of {JOIN_STRATEGIES}")
        a = alias or table
        if a in {s for s, _, _ in self._scope()}:
            raise QueryPlanException(
                f"alias '{a}' already in scope; pass alias= to disambiguate "
                f"(reference: Transaction.queryAs, db/Database.java:236–252)")
        left = self.resolve(left_column)
        # right column must come from the newly joined table; a qualifier,
        # if present, must name that table's alias (silently re-resolving a
        # wrong qualifier against the new table would hide user typos)
        right_cols = self.db.schema(table).fieldNames()
        if "." in right_column:
            rqual, rname = right_column.split(".", 1)
            if rqual != a:
                raise QueryPlanException(
                    f"join right column '{right_column}' is qualified with "
                    f"'{rqual}' but the joined table's alias is '{a}'")
        else:
            rname = right_column
        if rname not in right_cols:
            raise QueryPlanException(
                f"join right column '{right_column}' not in table '{table}'")
        self.joins.append(JoinClause(table, a, left, ColumnRef(a, rname),
                                     how, strategy))
        return self

    def where(self, column: str, op: PredicateOperator | str,
              value: Any = None) -> "Query":
        """Single-predicate filter; stacked calls AND together
        (``QueryPlan.java:101–105,527–540``).  ``op`` may be a
        ``PredicateOperator`` or its symbol string (``">"``, ``"="``, …)."""
        try:
            op = coerce_op(op)
        except ValueError as exc:
            raise QueryPlanException(str(exc)) from None
        if self.strict_reference_mode and op not in REFERENCE_OPS:
            raise QueryPlanException(
                f"operator {op.name} is outside the reference predicate "
                f"surface (strict mode)")
        self.wheres.append(WhereClause(self.resolve(column), op, value))
        return self

    def where_columns(self, left_column: str, op: PredicateOperator | str,
                      right_column: str) -> "Query":
        """Column-vs-column predicate (additive; the reference compares a
        column to a literal only).  Applied after all joins — e.g. TPC-H
        Q5's ``c_nationkey = s_nationkey`` correlation."""
        try:
            op = coerce_op(op)
        except ValueError as exc:
            raise QueryPlanException(str(exc)) from None
        if self.strict_reference_mode:
            raise QueryPlanException(
                "where_columns is outside the reference predicate surface "
                "(strict mode)")
        self.col_wheres.append(
            (self.resolve(left_column), op, self.resolve(right_column)))
        return self

    def select(self, *columns: str | tuple[str, str]) -> "Query":
        """Projection (``QueryPlan.select``, ``QueryPlan.java:80–90``).
        Each item is a column name or ``(name, output_alias)``."""
        for c in columns:
            name, out = c if isinstance(c, tuple) else (c, None)
            ref = self.resolve(name)
            self.selects.append(SelectItem(ref, out or ref.column))
        return self

    def group_by(self, *columns: str) -> "Query":
        """Reference allows exactly one group column (``QueryPlan.java:
        113–115``); multi-column grouping is the natural Spark extension."""
        if self.strict_reference_mode and (len(columns) != 1 or self.group_bys):
            raise QueryPlanException("reference surface: single group column")
        self.group_bys.extend(self.resolve(c) for c in columns)
        return self

    # groupBy alias for reference-flavored call sites
    groupBy = group_by

    def count(self, out: str = "countAgg") -> "Query":
        """COUNT(*) (``QueryPlan.count``, ``QueryPlan.java:118–124``)."""
        self.aggs.append(AggClause("count", None, out))
        return self

    def sum(self, column: str | Column, out: str = "sumAgg",
            exact: bool = False) -> "Query":
        """SUM over a column name or an arbitrary Column expression
        (expression form is additive — TPC-H revenue style)."""
        if isinstance(column, Column):
            self.aggs.append(AggClause("sum", None, out, exact, expr=column))
        else:
            self.aggs.append(
                AggClause("sum", self.resolve(column), out, exact))
        return self

    def average(self, column: str, out: str = "averageAgg",
                exact: bool = False) -> "Query":
        """Correct AVG over any numeric column.  (The reference's AVG reads
        values with ``getInt`` — ``SelectOperator.java:295–298`` — making it
        wrong for float columns; we deliberately implement real avg,
        SURVEY.md §1.2.)"""
        self.aggs.append(AggClause("avg", self.resolve(column), out, exact))
        return self

    avg = average

    # ------------------------------------------------------------------ #
    # verbs — additive (beyond-reference, SURVEY.md §2.3–2.5)
    # ------------------------------------------------------------------ #
    def min(self, column: str, out: str = "minAgg") -> "Query":
        self.aggs.append(AggClause("min", self.resolve(column), out))
        return self

    def max(self, column: str, out: str = "maxAgg") -> "Query":
        self.aggs.append(AggClause("max", self.resolve(column), out))
        return self

    def having(self, column: str, op: PredicateOperator | str,
               value: Any) -> "Query":
        """Filter after aggregation on an agg output name or group column."""
        try:
            op = coerce_op(op)
        except ValueError as exc:
            raise QueryPlanException(str(exc)) from None
        self.havings.append((column, op, value))
        return self

    def order_by(self, column: str, ascending: bool = True) -> "Query":
        self.order_bys.append((column, ascending))
        return self

    def limit(self, n: int) -> "Query":
        self.limit_n = n
        return self

    def distinct(self) -> "Query":
        self.distinct_flag = True
        return self

    def strict(self) -> "Query":
        """Restrict verbs to the exact reference surface (for parity tests)."""
        self.strict_reference_mode = True
        return self

    # ------------------------------------------------------------------ #
    # assembly
    # ------------------------------------------------------------------ #
    def _base_df(self, alias: str, table: str,
                 bases: dict[str, DataFrame] | None = None) -> DataFrame:
        df = (bases or {}).get(alias)
        return (self.db.table(table) if df is None else df).alias(alias)

    def _apply_strategy(self, df: DataFrame, strategy: str) -> DataFrame:
        if strategy == "auto":
            return df
        if strategy == "broadcast":
            return F.broadcast(df)
        return df.hint(strategy)

    def _assemble(self, plan=None, probe: WhereClause | None = None,
                  bases: dict[str, DataFrame] | None = None) -> DataFrame:
        """Build the DataFrame: joins → wheres → group/agg → having →
        select → distinct → order → limit (the reference's fixed pipeline,
        ``QueryPlan.execute`` order, plus the additive tail).

        With ``plan`` (optimizer.PlannedQuery) the join chain follows the
        DP-chosen base table + left-deep step order and applies each step's
        strategy hint; otherwise the declared order is used verbatim.

        ``probe`` is one more predicate applied like a where clause, and
        ``bases`` maps aliases to DataFrames that replace their tables'
        (point-index slices, see ``lookup_key``).  Both are arguments,
        never builder state, so concurrent probes of one builder cannot
        see each other's.

        Predicates on the right side of a semi/anti join are pushed into
        the right input *before* the join — those columns do not exist in
        the join output (Spark semi/anti joins emit left columns only), so
        filter-after-join would be unresolvable.  All other predicates keep
        the reference's filter-after-join placement (for outer joins that
        is the SQL WHERE semantic).
        """
        semi_anti = {"semi", "left_semi", "leftsemi", "anti", "left_anti",
                     "leftanti"}
        wheres = self.wheres if probe is None else [*self.wheres, probe]
        pushed_aliases = {j.alias for j in self.joins if j.how in semi_anti}
        pushed = [w for w in wheres if w.ref.alias in pushed_aliases]

        def right_df(alias: str, table: str, strategy: str) -> DataFrame:
            right = self._base_df(alias, table, bases)
            for w in pushed:
                if w.ref.alias == alias:
                    right = right.filter(w.condition())
            return self._apply_strategy(right, strategy)

        def do_join(df: DataFrame, alias: str, table: str, strategy: str,
                    cond, how: str) -> DataFrame:
            if strategy == "broadcast_left":
                # the accumulated LEFT side is the small one; broadcast it
                # and leave the big right side un-shuffled
                return F.broadcast(df).join(
                    right_df(alias, table, "auto"), cond, how)
            return df.join(right_df(alias, table, strategy), cond, how)

        if plan is None:
            df = self._base_df(self.base_alias, self.base_table, bases)
            for j in self.joins:
                df = do_join(df, j.alias, j.table, j.strategy,
                             j.left.spark() == j.right.spark(), j.how)
        else:
            df = self._base_df(plan.base_alias, plan.base_table)
            for step in plan.steps:
                df = do_join(df, step.alias, step.table, step.strategy,
                             step.left.spark() == step.right.spark(),
                             step.how)

        for w in wheres:
            if w in pushed:
                continue
            df = df.filter(w.condition())

        for lref, op, rref in self.col_wheres:
            df = df.filter(_col_predicate(lref, op, rref))

        if self.aggs or self.group_bys:
            df = self._apply_aggregation(df)
        elif self.selects:
            df = df.select([s.ref.spark().alias(s.out) for s in self.selects])

        for name, op, value in self.havings:
            df = df.filter(op.apply(F.col(name), value))

        if self.distinct_flag:
            df = df.distinct()
        if self.order_bys:
            df = df.orderBy(*[
                (F.col(self._order_name(c)).asc() if asc
                 else F.col(self._order_name(c)).desc())
                for c, asc in self.order_bys])
        if self.limit_n is not None:
            df = df.limit(self.limit_n)
        return df

    def _order_name(self, column: str) -> str:
        """Order-by may target an agg/select output name or a scope column."""
        output_names = {s.out for s in self.selects} | {a.out for a in self.aggs}
        output_names |= {g.column for g in self.group_bys}
        if column in output_names:
            return column
        return self.resolve(column).qualified

    def _apply_aggregation(self, df: DataFrame) -> DataFrame:
        if not self.aggs:
            raise QueryPlanException(
                "group_by requires at least one aggregate "
                "(count/sum/average/min/max)")
        # validate on (alias, column) — a selected column that merely shares
        # its NAME with a grouped column from another table must still error
        group_refs = {(g.alias, g.column) for g in self.group_bys}
        for s in self.selects:
            if (s.ref.alias, s.ref.column) not in group_refs:
                raise QueryPlanException(
                    f"selected column '{s.ref.qualified}' is neither grouped "
                    f"nor aggregated (reference constraint, "
                    f"QueryPlan.java:544–547)")
        agg_cols = [a.spark() for a in self.aggs]
        if self.group_bys:
            # alias each group key positionally: two tables' same-named
            # columns (a.name, b.name) must stay distinct through the
            # aggregate — bare g.spark() would emit two output columns
            # both called 'name' and the projection below would raise
            # AMBIGUOUS_REFERENCE
            out = df.groupBy([g.spark().alias(f"__g{i}")
                              for i, g in enumerate(self.group_bys)]
                             ).agg(*agg_cols)
        else:
            out = df.agg(*agg_cols)

        def group_slot(alias: str, column: str) -> str:
            for i, g in enumerate(self.group_bys):
                if (g.alias, g.column) == (alias, column):
                    return f"__g{i}"
            raise QueryPlanException(
                f"'{alias}.{column}' is not a grouped column")

        # project to selected group columns (with output aliases) + aggs
        if self.selects:
            keep = [F.col(group_slot(s.ref.alias, s.ref.column))
                    .alias(s.out) for s in self.selects]
        else:
            keep = [F.col(f"__g{i}").alias(g.column)
                    for i, g in enumerate(self.group_bys)]
        return out.select(*keep, *[F.col(a.out) for a in self.aggs])

    # ------------------------------------------------------------------ #
    # execution entry points
    # ------------------------------------------------------------------ #
    def lookup_key(self, column: str, value: Any) -> DataFrame:
        """Point read on the builder (``BPlusTree.lookupKey``,
        ``db/index/BPlusTree.java:106–121``): the query with one more
        ``column = value`` predicate.  On an index-sorted table the
        equality predicate prunes row groups via min/max stats.

        Tables the point index serves (``Database.lookup``) are replaced
        by their index slices: the probed alias and, transitively, each
        inner equi-join partner whose join column has the same Spark
        type (its rows that can reach the result all hold ``value``).
        Every predicate still applies, so the result equals the plain
        plan's.

        The probe predicate does NOT mutate the builder: repeated or
        concurrent probes on one builder never see each other's."""
        ref = self.resolve(column)
        probe = WhereClause(ref, PredicateOperator.EQUALS, value)
        return self._assemble(probe=probe,
                              bases=self._index_bases(ref, value))

    def contains_key(self, column: str, value: Any) -> bool:
        """``containsKey`` (``BPlusTree.java:123–128``): existence probe;
        ``take(1)`` plans a limit-1 scan that stops at the first match."""
        return bool(self.lookup_key(column, value).take(1))

    def _index_bases(self, ref: ColumnRef, value: Any) -> dict[str, DataFrame]:
        """Alias -> index-served DataFrame holding every row of that
        alias that can reach a ``ref = value`` probe's result."""
        tables = {alias: table for alias, table, _ in self._scope()}

        def dtype(r: ColumnRef):
            return self.db.schema(tables[r.alias])[r.column].dataType

        keyed = {ref}
        grew = True
        while grew:
            grew = False
            for j in self.joins:
                if j.how != "inner" or (j.left in keyed) == (j.right in keyed):
                    continue
                if dtype(j.left) == dtype(j.right):
                    keyed |= {j.left, j.right}
                    grew = True
        bases: dict[str, DataFrame] = {}
        for r in sorted(keyed, key=lambda r: (r.alias, r.column)):
            if r.alias not in bases:
                table = tables[r.alias]
                served = self.db._point_df(table, self.db.table(table),
                                           r.column, value)
                if served is not None:
                    bases[r.alias] = served
        return bases

    def execute(self) -> DataFrame:
        """Naive plan: declared join order, no strategy hints beyond those
        the caller pinned (``QueryPlan.execute``, ``QueryPlan.java:168–184``).
        Catalyst still optimizes the physical plan."""
        return self._assemble()

    def to_df(self) -> DataFrame:
        return self.execute()

    def execute_optimal(self) -> DataFrame:
        """System-R planned execution (``QueryPlan.executeOptimal``,
        ``QueryPlan.java:193–226``): our DP picks the left-deep join order
        and a per-join strategy hint from table stats; Catalyst + AQE take
        it from there."""
        from cs186_query_optimization_project_spark.plans.optimizer import optimize

        plan = optimize(self)
        self._last_plan = plan
        self._plan_intent = self._intent_key()
        return self._assemble(plan=plan)

    executeOptimal = execute_optimal

    def _intent_key(self) -> tuple:
        """Fingerprint of the planning-relevant intent.  Builder clauses
        only ever append, so clause counts (+ the scalar knobs) change
        on every mutation — explain(optimal=True) uses this to refuse a
        cached plan computed for an earlier shape of the query."""
        return (len(self.joins), len(self.wheres), len(self.col_wheres),
                len(self.group_bys), len(self.aggs), len(self.selects),
                len(self.havings), len(self.order_bys), self.limit_n,
                self.distinct_flag)

    def cached_plan(self):
        """The last execute_optimal plan IF the query hasn't been
        mutated since; else None (the caller re-optimizes)."""
        if (self._last_plan is not None
                and self._plan_intent == self._intent_key()):
            return self._last_plan
        return None

    # ------------------------------------------------------------------ #
    # explain (QueryOperator.toString, Project2Spec.md:80–97)
    # ------------------------------------------------------------------ #
    def explain(self, optimal: bool = False) -> str:
        from cs186_query_optimization_project_spark.plans.explain import explain_query

        return explain_query(self, optimal=optimal)

    def __repr__(self) -> str:  # pragma: no cover
        return (f"Query(base={self.base_table}, joins={len(self.joins)}, "
                f"wheres={len(self.wheres)}, groupBy={len(self.group_bys)}, "
                f"aggs={[a.out for a in self.aggs]})")
