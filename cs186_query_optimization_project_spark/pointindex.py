"""Driver-resident key index over one immutable DataFrame snapshot.

The reference answers ``lookupKey``/``containsKey`` with a B+ tree
descent (``db/index/BPlusTree.java:106–144``).  The Spark analog, a
pushed equality scan, pays planning, per-literal code generation and a
job launch on every probe, however few rows it returns.  For a table
probed again and again, :class:`PointIndex` answers ``column == value``
from the driver instead:

- one ``toArrow()`` copy of the snapshot, shared by every indexed
  column;
- per probed column, a stable argsort of the non-null keys plus the
  permutation back to row numbers: 16 B per row (an 8-byte key and an
  8-byte row number; a string column holds a reference to one Python
  string per row in place of the key);
- a probe is two ``searchsorted`` calls and a ``take``.

:meth:`PointIndex.lookup` returns the matching rows as an Arrow slice,
in scan order, or ``None``: "take the Spark path".  Which one happens
is decided from properties the code can observe:

- **key**: an integral column probed with a Python ``int`` (not
  ``bool``) in the column type's range, or a ``StringType`` column with
  the default ``UTF8_BINARY`` collation probed with a ``str``.  Both
  compare exactly like Spark's ``=``; anything else needs Spark's casts.
- **snapshot**: not streaming, a deterministic analyzed plan whose
  leaves are in-memory data or file scans over local ``file:`` paths,
  an optimized-plan ``sizeInBytes`` no larger than
  ``spark.sql.autoBroadcastJoinThreshold`` (a table small enough to
  broadcast to every executor is small enough to hold on the driver; at
  -1 nothing is indexed), and ``toArrow()`` succeeding.  Decided once,
  when the index is first built.
- **pay-back**: the index is built on the second probe of a column.
  The first probe's scan already cost about what a build does, and a
  snapshot probed once never builds at all.

Staleness: the owner drops the index with the snapshot it belongs to
(``Database`` when a table entry's DataFrame is replaced,
``PartitionedTable`` when the resolved manifest changes).  The input
files are re-checked by ``(path, mtime, size)`` on every probe; a
changed file drops everything built and the counting starts over.
"""

from __future__ import annotations

import os
import threading
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

#: value range (bits) of each integral Spark type
_INT_BITS = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32,
             T.LongType: 64}
#: logical-plan leaves whose rows cannot change under a fixed plan
#: (``LogicalRelation`` is admitted separately, over files only)
_IMMUTABLE_LEAVES = {"LocalRelation", "LogicalRDD", "Range",
                     "OneRowRelation"}
#: probes of a column before the index on it is built
BUILD_ON_PROBE = 2


def probe_eligible(dtype: T.DataType, value) -> bool:
    """True when ``column == value`` on a ``dtype`` column compares
    exactly as the index does: no cast on either side."""
    if type(value) is int:  # not bool, not numpy scalars
        bits = _INT_BITS.get(type(dtype))
        return bits is not None and \
            -(1 << (bits - 1)) <= value < (1 << (bits - 1))
    if type(value) is str:
        if type(dtype) is not T.StringType or \
                getattr(dtype, "collation", "UTF8_BINARY") != "UTF8_BINARY":
            return False
        try:  # a lone surrogate has no UTF-8 form: Spark's error path
            value.encode("utf-8")
        except UnicodeEncodeError:
            return False
        return True
    return False


def _local_files(df: DataFrame) -> list[str] | None:
    """Local paths of ``df``'s input files, or None when any leaf of
    its plan reads something other than in-memory data or local files
    (such a source could change without a file changing)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.getClass().getSimpleName()
        if kind == "LogicalRelation":
            if leaf.relation().getClass().getSimpleName() \
                    != "HadoopFsRelation":
                return None
        elif kind not in _IMMUTABLE_LEAVES:
            return None
    paths = []
    for uri in df.inputFiles():
        parsed = urlparse(uri)
        if parsed.scheme != "file":
            return None
        paths.append(unquote(parsed.path))
    return paths


def _fingerprint(paths: list[str]) -> tuple | None:
    """``(path, mtime, size)`` of each file; None when one is gone."""
    try:
        return tuple((p, st.st_mtime_ns, st.st_size)
                     for p, st in ((p, os.stat(p)) for p in paths))
    except OSError:
        return None


class _ColumnIndex:
    """Sorted non-null keys of one column and their row numbers."""

    __slots__ = ("keys", "rows")

    def __init__(self, column: pa.ChunkedArray):
        valid = column.is_valid().to_numpy(zero_copy_only=False)
        keys = column.drop_null().to_numpy(zero_copy_only=False)
        order = np.argsort(keys, kind="stable")
        self.keys = keys[order]
        self.rows = np.flatnonzero(valid)[order]

    def rows_of(self, value) -> np.ndarray:
        """Row numbers holding ``value``, ascending (the sort is
        stable, so equal keys keep scan order)."""
        lo = np.searchsorted(self.keys, value, side="left")
        hi = np.searchsorted(self.keys, value, side="right")
        return self.rows[lo:hi]


class PointIndex:
    """Equality index over one snapshot; see the module docstring.

    ``snapshot`` is the DataFrame, or a zero-argument callable producing
    it (so an owner that never builds never plans one).  Thread-safe:
    concurrent probers share one build."""

    def __init__(self, schema: T.StructType, snapshot):
        self.schema = schema
        self._names = frozenset(schema.fieldNames())
        self.snapshot = snapshot
        self._lock = threading.Lock()
        self._probes: dict[str, int] = {}
        #: None = not yet decided; False = never indexed
        self._admitted: bool | None = None
        self._paths: list[str] = []
        self._fingerprint: tuple | None = None
        self._table: pa.Table | None = None
        self._columns: dict[str, _ColumnIndex] = {}
        #: number of ``toArrow()`` copies taken
        self.builds = 0

    @property
    def nbytes(self) -> int:
        """Driver memory held: the Arrow copy plus the column indexes."""
        table = self._table
        return (0 if table is None else table.nbytes) + sum(
            c.keys.nbytes + c.rows.nbytes for c in self._columns.values())

    def lookup(self, column: str, value) -> pa.Table | None:
        """The snapshot's rows with ``column == value``, or None when
        the probe must take the Spark path."""
        if column not in self._names or \
                not probe_eligible(self.schema[column].dataType, value):
            return None
        with self._lock:
            if self._admitted is False:
                return None
            if self._table is not None and \
                    _fingerprint(self._paths) != self._fingerprint:
                self._table, self._columns, self._probes = None, {}, {}
            n = self._probes.get(column, 0) + 1
            self._probes[column] = n
            if n < BUILD_ON_PROBE:
                return None
            index = self._columns.get(column)
            if index is None:
                if self._table is None and not self._build():
                    return None
                index = self._columns[column] = _ColumnIndex(
                    self._table.column(column))
            table = self._table
        return table.take(index.rows_of(value))

    def _build(self) -> bool:
        """Admit the snapshot (once) and take its Arrow copy."""
        df = self.snapshot() if callable(self.snapshot) \
            else self.snapshot
        if self._admitted is None:
            try:
                self._admitted = self._admit(df)
            except Exception:  # the Spark path reports such errors
                self._admitted = False
            if not self._admitted:
                return False
        # fingerprint BEFORE the copy: a file rewritten during it shows
        # as a mismatch on the next probe, never as a stale hit
        fingerprint = _fingerprint(self._paths)
        if fingerprint is None:
            return False
        try:
            table = df.toArrow()
        except Exception:  # a type Arrow cannot carry: Spark path
            self._admitted = False
            return False
        self.builds += 1
        self._fingerprint = fingerprint
        self._table = table
        return True

    def _admit(self, df: DataFrame) -> bool:
        if df.isStreaming:
            return False
        qe = df._jdf.queryExecution()
        if not qe.analyzed().deterministic():
            return False
        paths = _local_files(df)
        if paths is None:
            return False
        self._paths = paths
        cap = df.sparkSession._jsparkSession.sessionState().conf() \
            .autoBroadcastJoinThreshold()
        return 0 <= qe.optimizedPlan().stats().sizeInBytes() <= cap
