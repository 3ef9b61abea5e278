"""`Database`: the engine's catalog + query entry point.

Mirrors the reference's ``Database`` class (``db/Database.java:22–77``): a
registry mapping table names to storage, plus the ``query(table)`` entry
point returning a fluent builder.  Here a "table" is any Spark-readable
source (parquet path, CSV path, or an in-memory DataFrame) and the storage
engine is Parquet + Tungsten rather than slotted pages.

The reference's ``createTableWithIndices`` (``db/Database.java:120–163``)
declares B+-tree indexed columns; Spark has no secondary indexes, so a
declared "index" here means *sorted-by-that-column on write* — which turns
pushed range filters into Parquet row-group (min/max) skipping, the
scale-out analog of an index range scan.  ``Database.create_table`` with
``index_columns`` sorts on write accordingly, and the optimizer's access-path
report (plans/optimizer.py) treats those columns as index-eligible.

Point reads (``lookup``/``contains`` and the builder's ``lookup_key``/
``contains_key``) additionally use a driver-resident key index
(pointindex.py) that needs no declaration: the second equality probe of
a column of a table small enough to broadcast
(``spark.sql.autoBroadcastJoinThreshold``) takes one Arrow copy of the
table's current DataFrame and sorts the column's keys; later probes are
answered from it without a Spark job.  The index belongs to the entry's
DataFrame object and is dropped whenever that DataFrame is replaced (DML
publish, re-registration, transaction commit); input files are
re-checked by ``(path, mtime, size)`` on every probe.  It holds one
Arrow copy per indexed table plus 16 B per row per indexed column (and
one Python string per row of an indexed string column).
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cs186_query_optimization_project_spark.errors import DatabaseException
from cs186_query_optimization_project_spark.pointindex import PointIndex


def ensure_private_dir(path: str) -> str:
    """``mkdir -p`` with an ownership check.  ``mode=`` on ``makedirs``
    is IGNORED when the directory already exists, so a world-readable or
    foreign-owned pre-created path would silently defeat the 0700
    anti-poisoning guard (pickle caches, DML table versions, ANN
    indexes all live under such parents).  Verify the dir is ours and
    closed to group/other, failing loudly otherwise."""
    import stat

    os.makedirs(path, mode=0o700, exist_ok=True)
    st = os.stat(path)
    if st.st_uid != os.getuid() or (st.st_mode & 0o077):
        raise DatabaseException(
            f"scratch dir '{path}' is owned by uid {st.st_uid} with mode "
            f"{stat.filemode(st.st_mode)}; expected own uid "
            f"{os.getuid()} and 0700 — refusing to use it")
    return path


def _restore_nanos_timestamps(df: DataFrame, path: str) -> DataFrame:
    """Normalize TIMESTAMP(NANOS) parquet columns to microsecond
    timestamps, matching DuckDB's read of the same files.

    Current driver testdata stores TIMESTAMP(MICROS), which every Spark
    reads natively (as TIMESTAMP_NTZ — naive wall time, exactly DuckDB's
    semantics), so this is a no-op there.  A TIMESTAMP(NANOS) column is
    either read natively as a timestamp (newer Sparks truncate to micros
    — accepted as-is) or surfaced as a raw nanos long under
    ``spark.sql.legacy.parquet.nanosAsLong`` — converted here.

    Fail-closed: nanos columns are derived from the parquet footer; a
    footer we cannot read, or a footer/Spark-schema combination we do not
    recognize, raises instead of silently returning a frame whose
    "timestamps" are raw longs (which would hash-mismatch downstream
    rather than error here).
    """
    import pyarrow.parquet as pq
    import pyarrow as pa

    if not os.path.exists(path):
        # Remote URI (s3a://...) or glob: Spark can read it but local
        # pyarrow cannot introspect the footer, so degrade gracefully —
        # nanos columns on such sources surface as LongType and the
        # caller casts explicitly.  Fail-closed applies only where we
        # CAN check (local paths below).
        return df
    first = path
    if os.path.isdir(path):
        # walk one parquet file out of the tree — hive-partitioned
        # tables keep their files in key=value subdirectories
        first = None
        for dirpath, dirnames, filenames in os.walk(path):
            dirnames.sort()
            cands = sorted(f for f in filenames if f.endswith(".parquet"))
            if cands:
                first = os.path.join(dirpath, cands[0])
                break
        if first is None:
            return df
    try:
        arrow_schema = pq.read_schema(first)
    except Exception as exc:
        raise DatabaseException(
            f"cannot read parquet footer for '{path}': {exc}") from exc
    spark_types = {f.name: f.dataType for f in df.schema.fields}
    for fld in arrow_schema:
        if pa.types.is_timestamp(fld.type) and fld.type.unit == "ns":
            got = spark_types.get(fld.name)
            if got is None:
                continue  # column pruned or renamed upstream
            if isinstance(got, (T.TimestampType, T.TimestampNTZType)):
                continue  # native nanos read, truncated to micros
            if not isinstance(got, T.LongType):
                raise DatabaseException(
                    f"'{path}' column '{fld.name}' is timestamp[ns] in the "
                    f"parquet footer but Spark read it as {got}; expected "
                    f"a timestamp (native read) or LongType (via "
                    f"spark.sql.legacy.parquet.nanosAsLong)")
            # integer `div`, NOT float division: nanos-since-epoch
            # (~1.7e18) exceeds double's 53-bit mantissa, so x/1000.0
            # would corrupt the low microseconds
            df = df.withColumn(
                fld.name,
                F.timestamp_micros(F.expr(f"`{fld.name}` div 1000")))
    return df

#: Tables the driver's testdata directories always contain.
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class TableEntry:
    """Catalog entry: how to produce the table's DataFrame + metadata.

    The DataFrame is resolved lazily (on first ``.df`` access) when the
    entry was registered from a path: one unreadable file then fails only
    its own table's queries, not every query on the Database (a
    ``register_directory`` over 10 tables must not die because one
    unrelated parquet is poisoned).
    """

    name: str
    path: str | None = None
    index_columns: tuple[str, ...] = ()
    #: filled lazily by plans.stats.TableStats.collect
    stats: object | None = field(default=None, repr=False)
    _df: DataFrame | None = field(default=None, repr=False)
    #: zero-arg callable producing the DataFrame; used when _df is None
    _loader: object | None = field(default=None, repr=False)
    #: PUBLISHED version paths, oldest first (history[-1] is current).
    #: Only commits that reached _publish appear — orphaned staged
    #: ``.vN`` dirs from failed commits are never listed.  Catalog-
    #: scoped, like the transaction boundary: history spans this
    #: process's publishes, while the parquet trail on disk is durable.
    history: list = field(default_factory=list, repr=False)
    #: point-read index over ``_df`` (pointindex.py); dropped with it
    point_index: PointIndex | None = field(default=None, repr=False)

    @property
    def df(self) -> DataFrame:
        if self._df is None:
            if self._loader is None:
                raise DatabaseException(
                    f"table '{self.name}' has neither a DataFrame nor a "
                    f"loader")
            self._df = self._loader()
        return self._df

    @df.setter
    def df(self, value: DataFrame) -> None:
        self._df = value
        self.point_index = None

    @property
    def schema(self) -> T.StructType:
        return self.df.schema


class Database:
    """Catalog of named tables + the ``query()`` builder entry point."""

    def __init__(self, spark: SparkSession, data_dir: str | None = None):
        self.spark = spark
        # The caller hands us ANY SparkSession (the driver harness builds
        # a vanilla one), so the engine must not depend on session confs
        # it set itself.  Current testdata stores TIMESTAMP(MICROS),
        # which reads natively everywhere; this legacy conf only matters
        # if a TIMESTAMP(NANOS) file shows up on a Spark that refuses to
        # scan it natively — then it surfaces nanos as longs, which
        # _restore_nanos_timestamps converts back.  Runtime-settable
        # today; guarded in case a future Spark drops the conf.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        self._tables: dict[str, TableEntry] = {}
        # one lock table per catalog, shared by every 2PL transaction on
        # it (the reference's Database-owned LockManager); built lazily
        # on first use would race, so eagerly — it is three dicts
        from cs186_query_optimization_project_spark.concurrency import (
            LockManager,
        )

        self._lock_manager = LockManager()
        #: guards creating an entry's point index (one per DataFrame)
        self._index_lock = threading.Lock()
        #: names registered via register_partitioned — catalog DML on
        #: them is refused (their own API owns mutations)
        self._partitioned_names: set[str] = set()
        if data_dir is not None:
            self.register_directory(data_dir)

    # ------------------------------------------------------------------ #
    # registration (DDL surface: Database.createTable / deleteTable)
    # ------------------------------------------------------------------ #
    def register_directory(self, data_dir: str) -> "Database":
        """Register every ``<name>.parquet`` under ``data_dir``."""
        for fname in sorted(os.listdir(data_dir)):
            if fname.endswith(".parquet"):
                self.register_parquet(fname[: -len(".parquet")],
                                      os.path.join(data_dir, fname))
        return self

    def register_parquet(self, name: str, path: str,
                         index_columns: tuple[str, ...] = ()) -> "Database":
        def _load(spark=self.spark, name=name, path=path) -> DataFrame:
            try:
                df = spark.read.parquet(path)
            except Exception as exc:
                # surface an engine-level error naming the table; the raw
                # Py4J stack identifies neither
                raise DatabaseException(
                    f"table '{name}': cannot read parquet at '{path}': "
                    f"{exc}") from exc
            return _restore_nanos_timestamps(df, path)

        self._tables[name] = TableEntry(name, path, index_columns,
                                        _loader=_load, history=[path])
        return self

    def register_csv(self, name: str, path: str, schema: T.StructType,
                     header: bool = False) -> "Database":
        """CSV ingestion (reference test harness reads CSVs row-by-row,
        ``test/TestDatabaseQueries.java:148–176``; here it's a declarative
        schema-checked scan)."""
        def _load(spark=self.spark, path=path) -> DataFrame:
            return spark.read.csv(path, schema=schema, header=header)

        self._tables[name] = TableEntry(name, path, _loader=_load)
        return self

    def register_dataframe(self, name: str, df: DataFrame,
                           index_columns: tuple[str, ...] = ()) -> "Database":
        self._tables[name] = TableEntry(name, None, index_columns, _df=df)
        return self

    def register_partitioned(self, name: str, root: str) -> "Database":
        """Register a ``PartitionedTable`` (partitioned.py manifests)
        for QUERYING through this catalog — ``db.query(name)`` and the
        optimizer see its current version like any other table.  The
        entry pins the manifest resolved at first read (a consistent
        MVCC snapshot; re-register to advance).  Catalog-level DML on
        it is refused: mutations go through the PartitionedTable API,
        whose partition-level copy-on-write supersedes this catalog's
        whole-table rewrites."""
        from cs186_query_optimization_project_spark.partitioned import (
            PartitionedTable,
        )

        pt = PartitionedTable(self.spark, root)
        self._tables[name] = TableEntry(name, None,
                                        _loader=lambda pt=pt: pt.read())
        self._partitioned_names.add(name)
        return self

    def create_table(self, name: str, df: DataFrame, path: str,
                     index_columns: tuple[str, ...] = (),
                     partition_by: tuple[str, ...] = (),
                     mode: str = "error") -> "Database":
        """Materialize ``df`` as a Parquet table.

        ``index_columns`` → sorted-on-write inside each partition so pushed
        filters on them skip row groups (the B+-tree analog, SURVEY.md §2.11).
        ``partition_by`` → hive-style directory partitioning for partition
        pruning.  At 100 TB this is the difference between a full scan and
        reading a handful of files.
        """
        writer = df
        if index_columns:
            writer = df.sortWithinPartitions(*index_columns)
        out = writer.write.mode(mode)
        if partition_by:
            out = out.partitionBy(*partition_by)
        out.parquet(path)
        return self.register_parquet(name, path, index_columns)

    def drop_table(self, name: str) -> None:
        """Catalog-level delete (files are left in place)."""
        self._entry(name)
        del self._tables[name]
        self._partitioned_names.discard(name)

    # ------------------------------------------------------------------ #
    # DML (Transaction.addRecord / updateRecord / deleteRecord,
    # db/Database.java:317–401) — copy-on-write batch semantics
    # ------------------------------------------------------------------ #
    # The reference mutates slotted pages in place under 2PL.  The Spark
    # analog without a table format (Delta/Iceberg) is copy-on-write: build
    # the post-DML DataFrame declaratively, materialize it to a NEW
    # versioned path, then swap the catalog entry.  Old versions are left
    # on disk (simple MVCC; a vacuum is a directory delete).  At 100 TB
    # copy-on-write is exactly what Delta does per touched file — here it
    # is per table, the honest cost of DML without file-level metadata.

    @contextmanager
    def _autocommit_x(self, *names: str):
        """X-lock ``names`` through the shared LockManager for the span
        of one immediate-DML statement (an autocommit transaction).
        Every writer — 2PL txns, optimistic commits, and db-level DML —
        goes through the same lock table (the reference routes all DML
        through its LockManager, ``db/Database.java:317–401``), so an
        immediate write can never clobber a table an active 2PL
        transaction holds X on (lost update)."""
        from cs186_query_optimization_project_spark import concurrency

        for name in names:
            if name in self._partitioned_names:
                raise DatabaseException(
                    f"table '{name}' is a partitioned-manifest table "
                    f"(register_partitioned); catalog DML would bypass "
                    f"its manifests — mutate through the "
                    f"PartitionedTable API instead")
        tid = concurrency.next_txn_id()
        try:
            for name in sorted(names):  # global order: no lock-order cycles
                self._lock_manager.acquire(tid, name, concurrency.X)
            yield
        finally:
            self._lock_manager.release_all(tid)

    def insert_rows(self, name: str, rows: DataFrame) -> "Database":
        """Append rows (schema-verified like ``Schema.verify``,
        ``db/table/Schema.java:45–64``)."""
        with self._autocommit_x(name):
            entry = self._entry(name)
            expected = [(f.name, f.dataType) for f in entry.schema.fields]
            got = [(f.name, f.dataType) for f in rows.schema.fields]
            if expected != got:
                raise DatabaseException(
                    f"insert into '{name}': schema mismatch; table has "
                    f"{expected}, rows have {got}")
            return self._rewrite(entry, entry.df.unionByName(rows))

    def delete_rows(self, name: str, condition) -> "Database":
        """Delete rows matching ``condition`` (a boolean Column).  SQL
        DELETE semantics: only rows where the condition is TRUE are
        deleted — a NULL condition (e.g. ``x > 5`` on a NULL x) keeps
        the row, which a bare ``filter(~condition)`` would silently
        drop (NOT NULL is NULL, and filter keeps only TRUE)."""
        with self._autocommit_x(name):
            entry = self._entry(name)
            return self._rewrite(
                entry, entry.df.filter(~condition | condition.isNull()))

    def update_rows(self, name: str, condition,
                    assignments: dict[str, object]) -> "Database":
        """Set ``column -> value/Column expression`` on rows matching
        ``condition``; other rows unchanged.  All assignments and the
        condition evaluate against the PRE-update row (one projection —
        see make_update_applier), exactly like SQL UPDATE."""
        from cs186_query_optimization_project_spark.transactions import (
            make_update_applier,
        )

        with self._autocommit_x(name):
            entry = self._entry(name)
            df = entry.df
            for col_name in assignments:
                if col_name not in df.columns:
                    raise DatabaseException(
                        f"update '{name}': unknown column '{col_name}'")
            return self._rewrite(
                entry, make_update_applier(condition, assignments)(df))

    def merge_rows(self, name: str, source: DataFrame,
                   on: str | tuple[str, ...],
                   update_cols: tuple[str, ...] | None = None,
                   insert_unmatched: bool = True) -> "Database":
        """Upsert (the MERGE INTO subset a training-data pipeline needs:
        matched rows take the source's values, unmatched source rows
        append).  Extends the reference's add/update/delete DML surface
        (``db/Database.java:317–401``) the same way Delta's MERGE
        extends a table format's insert/delete.

        ``source`` must carry the table's full schema (like
        ``insert_rows``); ``update_cols`` restricts which non-key
        columns matched rows take from the source (default: all).
        Duplicate keys in the source raise — each target row must match
        at most one source row (Delta's multiple-match error) or the
        join would fan rows out.  Declarative copy-on-write: one
        left-outer join + one anti join, no driver-side rows."""
        keys = [on] if isinstance(on, str) else list(on)
        with self._autocommit_x(name):
            entry = self._entry(name)
            expected = [(f.name, f.dataType) for f in entry.schema.fields]
            got = [(f.name, f.dataType) for f in source.schema.fields]
            if expected != got:
                raise DatabaseException(
                    f"merge into '{name}': schema mismatch; table has "
                    f"{expected}, source has {got}")
            for k in keys:
                if k not in entry.schema.fieldNames():
                    raise DatabaseException(
                        f"merge into '{name}': unknown key column '{k}'")
            # materialize the source once: the dup check, the matched
            # rewrite and the insert anti-join all read it, and without
            # the checkpoint each re-executes the caller's source plan
            # (the same Delta-style source materialization
            # PartitionedTable.merge does).  The dup check is one
            # aggregation — row count vs distinct key-struct count
            # (struct, so NULL keys group as equal exactly like the old
            # groupBy) — instead of a groupBy + limit probe.
            source = source.localCheckpoint()
            dup = source.agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct(F.struct(*[F.col(k) for k in keys]))
                .alias("d")).first()
            if dup["n"] != dup["d"]:
                raise DatabaseException(
                    f"merge into '{name}': source has duplicate keys on "
                    f"{keys}; each target row must match at most one "
                    f"source row")
            # `is not None`: an explicit empty tuple means "update no
            # columns on match" (insert-only merge), not "update all"
            upd = [c for c in (update_cols if update_cols is not None
                               else entry.df.columns)
                   if c not in keys]
            src = source.select(
                *[F.col(k).alias(f"__mk_{k}") for k in keys],
                *[F.col(c).alias(f"__mv_{c}") for c in upd],
                F.lit(True).alias("__matched"))
            cond = None
            for k in keys:
                eq = F.col(k) == F.col(f"__mk_{k}")
                cond = eq if cond is None else (cond & eq)
            updated = (entry.df.join(src, cond, "left_outer")
                       .select(*[
                           (F.when(F.col("__matched").isNotNull(),
                                   F.col(f"__mv_{c}"))
                            .otherwise(F.col(c)).alias(c)
                            if c in upd else F.col(c))
                           for c in entry.df.columns]))
            result = updated
            if insert_unmatched:
                new_rows = source.join(entry.df.select(*keys), keys,
                                       "left_anti")
                result = updated.unionByName(new_rows)
            return self._rewrite(entry, result)

    def _rewrite(self, entry: TableEntry, new_df: DataFrame) -> "Database":
        self._publish(self._stage(entry, new_df))
        return self

    def _stage(self, entry: TableEntry, new_df: DataFrame) -> tuple:
        """Phase 1 of a two-phase rewrite: materialize the new version
        WITHOUT touching the catalog.  All the failure-prone work (the
        parquet write) happens here; a multi-table commit stages every
        table first and only then publishes, so a mid-commit failure
        leaves the catalog entirely on the old versions (an orphaned
        ``.vN`` directory is the only residue — it just consumes a
        version number, it is never registered)."""
        if entry.path is None:
            return ("mem", entry.name, new_df)
        import re

        base = entry.path.rstrip("/")
        # strip only OUR version suffix (.v<digits> at the end) — a '.v'
        # elsewhere in the path (e.g. /srv/corpus.v2024/t) must survive
        root = re.sub(r"\.v\d+$", "", base)
        version = 1
        while os.path.exists(f"{root}.v{version}"):
            version += 1
        new_path = f"{root}.v{version}"
        writer = new_df
        if entry.index_columns:
            writer = new_df.sortWithinPartitions(*entry.index_columns)
        writer.write.mode("error").parquet(new_path)
        return ("parquet", entry.name, new_path, entry.index_columns)

    def _publish(self, staged: tuple) -> None:
        """Phase 2: point the catalog at a staged version — pure
        in-memory pointer swaps (no I/O, nothing to fail), so a loop of
        publishes over pre-staged versions is effectively atomic."""
        if staged[0] == "mem":
            _, name, new_df = staged
            entry = self._entry(name)
            entry.df = new_df
            entry.stats = None
        else:
            _, name, new_path, index_columns = staged
            prior = (self._tables[name].history
                     if name in self._tables else [])
            self.register_parquet(name, new_path, index_columns)
            # register_parquet starts a fresh history; splice the prior
            # published chain back in so time travel sees every commit
            self._tables[name].history = [*prior, new_path]

    # ------------------------------------------------------------------ #
    # lookup
    # ------------------------------------------------------------------ #
    def _entry(self, name: str) -> TableEntry:
        if name not in self._tables:
            raise DatabaseException(
                f"unknown table '{name}'; registered: {sorted(self._tables)}")
        return self._tables[name]

    def table(self, name: str) -> DataFrame:
        return self._entry(name).df

    def table_versions(self, name: str) -> list[int]:
        """RETAINED published version numbers for a disk-backed table,
        oldest first (0 = as first registered; each copy-on-write DML
        commit appends one).  Delta-style ``DESCRIBE HISTORY``, scoped
        to this catalog's publishes — see ``TableEntry.history``.
        Version numbers are stable across ``vacuum``: vacuumed versions
        simply drop out of the list, they are never renumbered."""
        return [i for i, p in enumerate(self._entry(name).history)
                if p is not None]

    def table_at_version(self, name: str, version: int) -> DataFrame:
        """Time-travel read: the table exactly as published at
        ``version`` (``VERSION AS OF``).  Copy-on-write DML leaves every
        prior version's parquet in place, so this is a plain scan of the
        old path — no log replay, and the current table is untouched."""
        hist = self._entry(name).history
        if not hist:
            raise DatabaseException(
                f"table '{name}' is not disk-backed; no version history")
        if not 0 <= version < len(hist):
            raise DatabaseException(
                f"table '{name}' has versions 0..{len(hist) - 1}, "
                f"not {version}")
        path = hist[version]
        if path is None:
            raise DatabaseException(
                f"table '{name}' version {version} has been vacuumed; "
                f"retained versions: {self.table_versions(name)}")
        return _restore_nanos_timestamps(
            self.spark.read.parquet(path), path)

    def vacuum(self, name: str, keep_last: int = 1) -> list[str]:
        """Reclaim storage for old published versions (Delta's
        ``VACUUM``): delete the parquet directories of all but the
        newest ``keep_last`` retained versions and mark their history
        slots vacuumed.  The current version is never deleted
        (``keep_last`` is floored at 1 by validation), version numbers
        stay stable, and a time-travel read of a vacuumed version
        raises a named error instead of a raw missing-path failure.

        Deletion goes through the Hadoop ``FileSystem`` API resolved
        from each path, so it works identically for local paths and
        remote URIs (s3a://, hdfs://) — at 100 TB this is the call that
        keeps copy-on-write DML from doubling storage per commit.
        Returns the deleted paths (oldest first)."""
        if keep_last < 1:
            raise DatabaseException(
                f"vacuum '{name}': keep_last must be >= 1 (the current "
                f"version is never deleted), got {keep_last}")
        with self._autocommit_x(name):
            entry = self._entry(name)
            if not entry.history:
                raise DatabaseException(
                    f"table '{name}' is not disk-backed; nothing to "
                    f"vacuum")
            retained = [i for i, p in enumerate(entry.history)
                        if p is not None]
            to_drop = retained[:-keep_last]
            removed: list[str] = []
            jvm = self.spark._jvm
            hconf = self.spark._jsc.hadoopConfiguration()
            for i in to_drop:
                path = entry.history[i]
                if path == entry.path:  # paranoia: never the current
                    continue
                jpath = jvm.org.apache.hadoop.fs.Path(path)
                jpath.getFileSystem(hconf).delete(jpath, True)
                entry.history[i] = None
                removed.append(path)
            return removed

    def table_names(self) -> list[str]:
        return sorted(self._tables)

    def schema(self, name: str) -> T.StructType:
        return self._entry(name).schema

    def index_columns(self, name: str) -> tuple[str, ...]:
        return self._entry(name).index_columns

    # ------------------------------------------------------------------ #
    # stats (lazy, cached per table — plans/stats.py)
    # ------------------------------------------------------------------ #
    def stats(self, name: str, histograms: bool = False):
        from cs186_query_optimization_project_spark.plans.stats import TableStats

        entry = self._entry(name)
        if entry.stats is None or (histograms and not entry.stats.histograms):
            entry.stats = (self._load_cached_stats(entry, histograms)
                           or TableStats.collect(entry.df, name,
                                                 histograms=histograms))
            self._save_cached_stats(entry, entry.stats)
        return entry.stats

    # Disk cache for table stats, keyed by (path, mtime, size) — the local
    # analog of ANALYZE TABLE results living in a catalog.  Recomputing
    # stats per process would otherwise dominate short optimal-path queries.
    # Per-uid directory created 0700: pickle.load from a world-writable
    # shared path would let another local user plant arbitrary code.
    _STATS_CACHE_DIR = f"/tmp/spark_graft_stats_cache_{os.getuid()}"

    def _stats_cache_key(self, entry: TableEntry) -> str | None:
        if entry.path is None or not os.path.exists(entry.path):
            return None
        import hashlib

        st = os.stat(entry.path)
        raw = f"{entry.path}|{st.st_mtime_ns}|{st.st_size}"
        if os.path.isdir(entry.path):
            # a directory's own mtime/size don't change when files
            # inside a SUBDIRECTORY are rewritten in place (partitioned
            # tables): fold every data file's identity in.  Metadata
            # walk only — cost is one listing, the same one the scan's
            # file index pays.
            parts = []
            for dirpath, _dirnames, filenames in os.walk(entry.path):
                for fn in filenames:
                    if fn.startswith(("_", ".")):
                        continue
                    fst = os.stat(os.path.join(dirpath, fn))
                    parts.append(f"{dirpath}/{fn}|{fst.st_mtime_ns}"
                                 f"|{fst.st_size}")
            raw += "||" + "|".join(sorted(parts))
        return hashlib.md5(raw.encode()).hexdigest()

    def _load_cached_stats(self, entry: TableEntry, histograms: bool):
        key = self._stats_cache_key(entry)
        if key is None:
            return None
        path = os.path.join(self._STATS_CACHE_DIR, key + ".pkl")
        # verify BEFORE unpickling — and OUTSIDE the best-effort except:
        # loading from a foreign-owned or open directory would execute
        # attacker-planted bytecode, so tampering fails loudly rather
        # than degrading to a cache miss
        ensure_private_dir(self._STATS_CACHE_DIR)
        try:
            import pickle

            with open(path, "rb") as f:
                stats = pickle.load(f)
            if histograms and not stats.histograms:
                return None
            return stats
        except Exception:
            return None

    def _save_cached_stats(self, entry: TableEntry, stats) -> None:
        key = self._stats_cache_key(entry)
        if key is None:
            return
        try:
            import pickle

            ensure_private_dir(self._STATS_CACHE_DIR)
            final = os.path.join(self._STATS_CACHE_DIR, key + ".pkl")
            # write-then-rename: concurrent processes never observe a
            # torn pickle (os.replace is atomic within a filesystem)
            tmp = f"{final}.{os.getpid()}.tmp"
            with open(tmp, "wb") as f:
                pickle.dump(stats, f)
            os.replace(tmp, final)
        except Exception:
            pass

    # ------------------------------------------------------------------ #
    # point reads (BPlusTree.lookupKey / containsKey,
    # db/index/BPlusTree.java:106–144; Transaction.getRecord,
    # db/Database.java:317–330)
    # ------------------------------------------------------------------ #
    def _point_index(self, table: str, df: DataFrame) -> PointIndex | None:
        """The point index (pointindex.py) of ``table``'s entry, if
        ``df`` is the entry's current DataFrame; None otherwise (e.g. a
        transaction's snapshot with buffered writes on top)."""
        entry = self._entry(table)
        with self._index_lock:
            if entry.df is not df:
                return None
            index = entry.point_index
            if index is None or index.snapshot is not df:
                index = entry.point_index = PointIndex(df.schema, df)
            return index

    def _point_hit(self, table: str, df: DataFrame, column: str,
                   value: object):
        """The rows of ``df.where(column == value)`` as an Arrow slice
        from the point index, or None for the Spark path."""
        index = self._point_index(table, df)
        return None if index is None else index.lookup(column, value)

    def _point_df(self, table: str, df: DataFrame, column: str,
                  value: object) -> DataFrame | None:
        """``_point_hit`` as a local DataFrame with ``df``'s schema."""
        hit = self._point_hit(table, df, column, value)
        if hit is None:
            return None
        return self.spark.createDataFrame(hit, df.schema)

    def lookup(self, table: str, column: str, value: object) -> DataFrame:
        """Point read: all records with ``column == value``.

        The reference descends a B+ tree (``BPlusTree.java:106–121``).
        Here a repeated probe of a table within the broadcast threshold
        is answered from the table's point index (see the module
        docstring): the result is a local DataFrame over the matching
        rows (``LocalTableScan``, no Spark job), with the table's schema
        and the rows of ``table(t).where(col == value)`` in scan order.
        Otherwise the scale-out analog runs: a pushed equality predicate
        over files sorted on the key at write time, so the scan skips
        every row group whose min/max excludes the key — at 100 TB a
        handful of row groups read instead of the table.
        """
        df = self.table(table)
        served = self._point_df(table, df, column, value)
        if served is not None:
            return served
        return df.where(F.col(column) == F.lit(value))

    def contains(self, table: str, column: str, value: object) -> bool:
        """``containsKey`` (``BPlusTree.java:123–128``): does any record
        with this key exist?  Answered from the point index's row count
        when it serves the probe (no DataFrame, no job); otherwise
        ``take(1)`` plans a limit-1 scan that stops at the first hit."""
        df = self.table(table)
        hit = self._point_hit(table, df, column, value)
        if hit is not None:
            return hit.num_rows > 0
        return bool(df.where(F.col(column) == F.lit(value)).take(1))

    # ------------------------------------------------------------------ #
    # transactions (§2.12: two protocols over the copy-on-write
    # versions — optimistic snapshot (transactions.py, the cluster
    # default) and blocking strict 2PL with waits-for prevention
    # (concurrency.py, full-fidelity reference parity for
    # driver-coordinated workloads))
    # ------------------------------------------------------------------ #
    def begin(self, mode: str = "optimistic"):
        """Open a transaction.

        ``mode="optimistic"`` (default): snapshot reads, buffered DML,
        first-committer-wins validation — never blocks, loser raises
        ``ConflictException`` at commit.
        ``mode="2pl"``: the reference's blocking protocol — S/X table
        locks with FIFO + upgrade priority, waits-for deadlock
        prevention (``DeadlockException`` instead of ever deadlocking),
        commits never conflict."""
        if mode == "optimistic":
            from cs186_query_optimization_project_spark.transactions import (
                Transaction,
            )

            return Transaction(self)
        if mode == "2pl":
            from cs186_query_optimization_project_spark.concurrency import (
                PessimisticTransaction,
            )

            return PessimisticTransaction(self, self._lock_manager)
        raise DatabaseException(
            f"unknown transaction mode {mode!r} "
            f"(expected 'optimistic' or '2pl')")

    # ------------------------------------------------------------------ #
    # query entry points (Transaction.query / queryAs,
    # db/Database.java:221–252)
    # ------------------------------------------------------------------ #
    def query(self, table: str, alias: str | None = None):
        from cs186_query_optimization_project_spark.plans.builder import Query

        self._entry(table)
        return Query(self, table, alias)
