"""Partition-level copy-on-write MVCC tables ("delta-lite").

The engine's table-level DML (`database.py`) rewrites the WHOLE table
per statement — correct, but O(table) however small the change.  This
module is the scale upgrade the SCALE.md DML section names: a managed
table whose versions are JSON *manifests* mapping partition values to
data directories, so a DML statement rewrites only the partitions it
touches and every untouched partition's directory is SHARED between
versions.  This is the storage model of Delta/Iceberg re-expressed at
partition granularity with manifests instead of a transaction log
(reference DML surface: ``db/Database.java:317–401``; the reference has
no partitioned storage — its tables are heap files of slotted pages).

Costs at 100 TB:

- ``insert`` / ``delete`` / ``update`` — O(touched partitions), not
  O(table): the statement plans a bounded distinct over the partition
  column of the affected rows (|partitions| rows, never data volume),
  rewrites only those directories, and re-links the rest.
- ``read(partition_values=...)`` — manifest-level pruning: directories
  of non-matching partitions are never even listed, the analog of
  Delta file-skipping (and stronger than parquet row-group skipping —
  no footers are opened at all).
- ``vacuum`` — reachability-based: a directory is deleted only when no
  retained manifest references it, so storage is proportional to churn
  × retention, not commits × table size.
- commit — atomic first-committer-wins: the manifest file is created
  with ``open(..., "x")`` after all data directories are fully
  written, so a concurrent committer of the same next-version loses
  with a named conflict and no torn state is ever readable (the same
  optimistic-commit contract as ``transactions.py``).

Insert appends a NEW directory per touched partition (manifest values
are directory LISTS), so pure appends never rewrite existing data;
delete/update collapse the touched partition's list into one rewritten
directory, which doubles as incremental compaction.
"""

from __future__ import annotations

import json
import os
import re as _re
import threading
import time as _time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cs186_query_optimization_project_spark import metaio
from cs186_query_optimization_project_spark.errors import (
    ConflictException,
    DatabaseException,
)
from cs186_query_optimization_project_spark.parallel import local_rows_df
from cs186_query_optimization_project_spark.pointindex import PointIndex

#: Partition-column types with exact, injective string keys.  Floats /
#: decimals / timestamps are refused: their string forms are not stable
#: join keys for manifest lookup (Hive has the same restriction in
#: practice).
_KEYABLE = (T.StringType, T.IntegerType, T.LongType, T.ShortType,
            T.ByteType, T.BooleanType, T.DateType)

#: Per-directory Bloom-index geometry (Delta bloom-filter-index /
#: parquet bloom analog at directory granularity).  4 probe hashes;
#: each directory's filter SIZES ITSELF from its own distinct-position
#: count (~10 bits per distinct value, power-of-two in
#: [_BLOOM_MIN_BITS, _BLOOM_MAX_BITS]) — a fixed size would saturate
#: on big directories and prune nothing.  Positions are computed
#: modulo _BLOOM_MAX_BITS JVM-side (so the executor-side distinct is
#: bounded by it), then folded to the directory's m — m divides
#: 2^23, so ``(h % 2^23) % m == h % m`` and lookups replay the fold
#: driver-side.  Worst case 1 MiB per (directory, column); degrade is
#: fail-open (a saturated filter keeps its directory, never a wrong
#: skip).
_BLOOM_MIN_BITS = 8192
_BLOOM_MAX_BITS = 1 << 23
_BLOOM_K = 4

#: Shape of a coalescible tombstone: ``col IN (lit, lit, ...)`` — the
#: predicate :func:`delete_soft` callers like ``postings_remove_soft``
#: generate per batch.  Anything else is left verbatim (coalescing is
#: a pure manifest-size/read-filter optimization, never required).
_INLIST_HEAD = _re.compile(
    r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s+IN\s*\((.*)\)\s*$", _re.S)


def _parse_inlist(cond: str):
    """``(column, values)`` when ``cond`` is exactly a homogeneous
    IN-list of int or single-quoted-string literals (the shape
    ``_sql_id_literal`` renders: ``''`` quote-doubling plus ``\\``
    doubling, matching Spark's default escaped string literals);
    ``None`` for anything else — parse conservatively, never guess."""
    m = _INLIST_HEAD.match(cond)
    if not m:
        return None
    col, body = m.group(1), m.group(2)
    vals: list = []
    i, n = 0, len(body)
    while i < n:
        while i < n and body[i] in " \t\n":
            i += 1
        if i >= n:
            return None
        if body[i] == "'":
            j, buf = i + 1, []
            closed = False
            while j < n:
                ch = body[j]
                if ch == "\\":
                    if j + 1 < n and body[j + 1] in ("\\", "'"):
                        buf.append(body[j + 1])
                        j += 2
                        continue
                    return None    # unknown escape: don't coalesce
                if ch == "'":
                    if j + 1 < n and body[j + 1] == "'":
                        buf.append("'")
                        j += 2
                        continue
                    closed = True
                    break
                buf.append(ch)
                j += 1
            if not closed:
                return None
            vals.append("".join(buf))
            i = j + 1
        else:
            j = i + 1 if body[i] == "-" else i
            while j < n and body[j].isdigit():
                j += 1
            if j == i or (body[i] == "-" and j == i + 1):
                return None
            vals.append(int(body[i:j]))
            i = j
        while i < n and body[i] in " \t\n":
            i += 1
        if i < n:
            if body[i] != ",":
                return None
            i += 1
            if i >= n:
                return None       # trailing comma
    if not vals:
        return None
    types = {type(v) for v in vals}
    if types not in ({int}, {str}):
        return None               # mixed-type list: leave verbatim
    return col, vals


def _render_inlist(col: str, vals: list) -> str:
    """Inverse of :func:`_parse_inlist` — backslashes double BEFORE
    quote-doubling (manifest tombstones are ALWAYS stored in Spark's
    DEFAULT string-literal grammar, ``escapedStringLiterals=false``;
    sessions running the deprecated legacy grammar are refused at
    record/apply time by :func:`_assert_default_literal_grammar`)."""
    def lit(v):
        if isinstance(v, int):
            return str(v)
        return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
    return f"{col} IN ({', '.join(lit(v) for v in sorted(set(vals)))})"


#: deprecated legacy-grammar conf under which stored tombstone text
#: would silently parse differently (see _assert_default_literal_grammar)
_LEGACY_LITERAL_CONF = "spark.sql.parser.escapedStringLiterals"


def _legacy_literal_risk(text: str) -> bool:
    """True when SQL text ``text`` parses DIFFERENTLY under the
    deprecated legacy string-literal grammar
    (``escapedStringLiterals=true``) than under Spark's default one:
    in legacy mode backslashes stop being escapes AND quote-doubling
    changes meaning (``'o''k'`` reads back as ``o''k``, two literal
    quotes — verified against Spark 4's parser).  Text free of both
    constructs means the same thing under either grammar."""
    return "\\" in text or "''" in text


def _assert_default_literal_grammar(spark, text: str, what: str) -> None:
    """Manifest tombstones are STORED SQL text, rendered under and
    re-parsed assuming Spark's DEFAULT string-literal grammar.  A
    session running the deprecated legacy grammar
    (``escapedStringLiterals=true``) would record or apply ``text``
    with different semantics — re-introducing the silent
    missed-deletion / diverged-constants corruption class the escaped
    rendering exists to prevent — so any predicate on which the two
    grammars diverge fails LOUDLY here instead.  Cheap: one string
    scan, and the conf lookup only happens for at-risk text."""
    if spark is None or not _legacy_literal_risk(text):
        return
    try:
        legacy = str(spark.conf.get(
            _LEGACY_LITERAL_CONF, "false")).lower() == "true"
    except Exception:
        legacy = False
    if legacy:
        raise DatabaseException(
            f"{what}: predicate {text!r} contains backslashes or "
            f"doubled quotes, which parse differently under "
            f"{_LEGACY_LITERAL_CONF}=true (the deprecated legacy "
            f"grammar); tombstone predicates are stored and applied "
            f"under the DEFAULT grammar — unset the conf and retry")


def _coalesce_tombstone(existing: list[str], cond: str) -> tuple[
        list[str], bool]:
    """``(new_list, changed)`` after recording ``cond`` against one
    directory's tombstone list: an exact duplicate of ANY recorded
    entry is dropped (idempotent retry), and a same-column same-type
    IN-list merges into the MOST RECENT same-shape entry anywhere in
    the list (one predicate, union of values) so N small soft-delete
    batches cost one read-time filter and one manifest entry instead
    of N — even when other predicate shapes (ranges, other columns)
    interleave between the IN-list batches.  ``changed=False`` means
    the list is semantically untouched — the new predicate masks
    nothing the union of already-recorded same-column IN-lists
    doesn't — which callers use to keep cardinalities exact on no-op
    retries.  Merging into a non-terminal entry is sound because
    reads AND together ``NOT(cond_i)`` with NULL keeping the row —
    the conjunction is order-insensitive, and for IN-lists over one
    column it equals NOT(col IN (union))."""
    if cond in existing:
        return list(existing), False
    new = _parse_inlist(cond)
    if new and existing:
        col, vals = new
        vtype = type(vals[0])
        covered: set = set()      # union over ALL mergeable entries
        target = None             # index of the most recent one
        for i, e in enumerate(existing):
            old = _parse_inlist(e)
            if old and old[0] == col and type(old[1][0]) is vtype:
                covered |= set(old[1])
                target = i
        if target is not None:
            if not set(vals) - covered:
                # semantic no-op (retry / re-delete): keep the list
                # byte-identical so manifests stay stable
                return list(existing), False
            tvals = _parse_inlist(existing[target])[1]
            out = list(existing)
            out[target] = _render_inlist(
                col, sorted(set(tvals) | set(vals)))
            return out, True
    return list(existing) + [cond], True


class PartitionedTable:
    """A manifest-versioned, hive-partitioned parquet table.

    Layout under ``root``::

        root/_manifests/v<N>.json         one per published version
        root/parts/<uuid>/__p=<val>/      data directories — each
                                          <uuid> staging is ONE write
                                          job's partitionBy output
                                          (hierarchical layouts nest:
                                          __p0=<v>/__p1=<v>/...)

    Every write (create / insert / a DML statement's rewrites) is one
    ``partitionBy`` job on DUPLICATED partition columns (``__p``, or
    ``__p0..n`` for multi-column hive layouts), so data files keep the
    real columns while hive routing happens on the copies — one job
    regardless of how many partitions it lands in.  A manifest is
    ``{"version": N, "partition_cols": [c, ...], "schema": ddl,
    "parts": {key: [dir, ...]}}`` where ``key`` is the hive path
    encoding of the value tuple ('/'-joined components).  Directories
    are immutable once published; versions share them.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        #: per-staging `_stats.json` parse cache — sound because the
        #: sidecar is published write-once with its staging (exclusive
        #: create, never replaced); without it every skipping loop
        #: re-reads the same sidecar once per DIRECTORY per query
        self._stats_cache: dict[str, dict] = {}
        #: (manifest, PointIndex) of the version read_point probed last
        self._point_index: tuple[dict, PointIndex] | None = None
        self._point_lock = threading.Lock()
        if not metaio.IO.is_dir(self._manifest_dir()):
            raise DatabaseException(
                f"no partitioned table at '{self.root}' "
                f"(missing _manifests); use PartitionedTable.create")

    # ------------------------------------------------------------------ #
    # creation
    # ------------------------------------------------------------------ #
    @classmethod
    def create(cls, spark: SparkSession, df: DataFrame, root: str,
               partition_col: str | list[str],
               bloom_cols: list[str] | None = None) \
            -> "PartitionedTable":
        """Materialize ``df`` as version 0, one directory per partition
        value, in ONE ``partitionBy`` write job (each task routes its
        rows to per-value files; no pre-shuffle — callers with many
        small partitions can ``repartition(partition_col)`` first to
        get one file per partition).

        ``bloom_cols`` declares per-directory Bloom indexes (recorded
        in the manifest, maintained by EVERY subsequent write): point
        lookups via :meth:`read_point` skip directories whose filter
        proves the value absent — the high-cardinality-column analog
        of the footer min/max skipping, for columns where ranges
        overlap everywhere but membership is sparse.

        ``partition_col`` may be a LIST for hierarchical hive layouts
        (the standard 100 TB shape, e.g. ``["o_orderdate", "source"]``
        → ``date=.../source=.../``): manifest keys become the hive
        path tuple, and every partition-aware read prunes exactly on
        any key prefix or component."""
        root = root.rstrip("/")
        pcols = [partition_col] if isinstance(partition_col, str) \
            else list(partition_col)
        if not pcols or len(set(pcols)) != len(pcols):
            raise DatabaseException(
                f"partition columns {pcols} must be non-empty and "
                f"distinct")
        for c in pcols:
            if c not in df.columns:
                raise DatabaseException(
                    f"partition column '{c}' not in {df.columns}")
            ptype = df.schema[c].dataType
            if not isinstance(ptype, _KEYABLE):
                raise DatabaseException(
                    f"partition column '{c}' has type {ptype}; "
                    f"only string/integral/boolean/date columns "
                    f"partition (float keys are not stable manifest "
                    f"keys)")
        for c in bloom_cols or []:
            if c not in df.columns:
                raise DatabaseException(
                    f"bloom column '{c}' not in {df.columns}")
        metaio.IO.make_dirs(os.path.join(root, "_manifests"),
                            exist_ok=False)
        metaio.IO.make_dirs(os.path.join(root, "parts"),
                            exist_ok=True)
        self_stub = object.__new__(cls)
        self_stub.spark = spark
        self_stub.root = root
        self_stub._stats_cache = {}
        self_stub._pending_bloom_cols = list(bloom_cols or [])
        try:
            # NULL partition values are detected from the staged
            # layout inside _write_partitions (no pre-write pass over
            # df); a failed create retracts the fresh _manifests dir
            # so a corrected retry can re-create the table
            parts = self_stub._write_partitions(df, pcols, op="create")
            self_stub._commit(0, pcols, df.schema, parts,
                              bloom_cols=list(bloom_cols or []),
                              op="CREATE")
        except Exception:
            metaio.IO.remove_tree(os.path.join(root, "_manifests"))
            raise
        return cls(spark, root)

    # ------------------------------------------------------------------ #
    # manifest plumbing
    # ------------------------------------------------------------------ #
    def _manifest_dir(self) -> str:
        return os.path.join(self.root, "_manifests")

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._manifest_dir(), f"v{version}.json")

    def versions(self) -> list[int]:
        """Retained (non-vacuumed) version numbers, oldest first.
        Numbers are stable across vacuum, like ``Database
        .table_versions``."""
        out = []
        for name in metaio.IO.list_dir(self._manifest_dir()):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-len(".json")]))
        return sorted(out)

    def _manifest(self, version: int | None = None) -> dict:
        vs = self.versions()
        if not vs:
            raise DatabaseException(
                f"partitioned table '{self.root}' has no retained "
                f"versions")
        if version is None:
            version = vs[-1]
        if version not in vs:
            raise DatabaseException(
                f"partitioned table '{self.root}' version {version} is "
                f"not retained (vacuumed or never published); retained: "
                f"{vs}")
        return json.loads(
            metaio.IO.read_text(self._manifest_path(version)))

    def _commit(self, version: int, partition_cols,
                schema: T.StructType, parts: dict[str, list[str]],
                txns: dict[str, int] | None = None,
                tombstones: dict[str, list[str]] | None = None,
                constraints: dict[str, str] | None = None,
                bloom_cols: list[str] | None = None,
                tomb_counts: dict[str, int] | None = None,
                op: str = "WRITE") -> None:
        """Publish: create v<version>.json atomically-exclusively.  All
        data dirs are already fully written, so the manifest's
        appearance IS the commit point; a concurrent committer of the
        same version number hits FileExistsError → first-committer-wins
        (optimistic, like ``transactions.py``).  ``txns`` is the
        exactly-once watermark map for streaming sinks (Delta's ``txn``
        action): highest committed batch id per sink id — DML commits
        must carry the caller's manifest's map forward or replay
        protection would be lost."""
        if constraints is None:
            # CHECK constraints are table POLICY: every commit carries
            # the current set forward unless a caller explicitly
            # changes it (add/drop/clone pass their own dict)
            try:
                constraints = self._manifest().get("constraints", {})
            except DatabaseException:
                constraints = {}  # first commit of a fresh table
        if bloom_cols is None:
            # bloom-index declarations are table POLICY like
            # constraints: carried forward unless explicitly changed
            try:
                bloom_cols = self._manifest().get("bloom_cols", [])
            except DatabaseException:
                bloom_cols = []
        if tomb_counts is None:
            # per-directory masked-row cardinalities travel WITH their
            # tombstones: carried forward by default (a dir's tombstone
            # set only changes via delete_soft, which passes updated
            # counts, or a rewrite, which drops the dir and prunes
            # both); restore/clone pass the source manifest's counts
            try:
                tomb_counts = self._manifest().get("tomb_counts", {})
            except DatabaseException:
                tomb_counts = {}
        pcols = [partition_cols] if isinstance(partition_cols, str) \
            else list(partition_cols)
        referenced = {d for ds in parts.values() for d in ds}
        live_tombs = {d: list(ts) for d, ts in
                      sorted((tombstones or {}).items())
                      if ts and d in referenced}
        payload = json.dumps({
            "version": version,
            # single-column manifests keep the legacy scalar field
            # (readable by pre-multi-column code and tests); the list
            # is the source of truth either way (see _pcols_of)
            **({"partition_col": pcols[0]} if len(pcols) == 1 else {}),
            "partition_cols": pcols,
            "schema": schema.simpleString(),
            # keys sorted for stable manifests; dir lists keep APPEND
            # order (oldest first) so history reads naturally
            "parts": {k: list(v) for k, v in sorted(parts.items())},
            "txns": dict(sorted((txns or {}).items())),
            # tombstones pruned to referenced dirs: a rewrite that
            # dropped a directory materialized its soft deletes
            "tombstones": live_tombs,
            # Delta DV-cardinality analog: exact masked-row count per
            # tombstoned directory, so metadata-only COUNT subtracts
            # instead of failing closed; pruned with its tombstones
            "tomb_counts": {d: int(n) for d, n in
                            sorted((tomb_counts or {}).items())
                            if d in live_tombs},
            "constraints": dict(sorted(constraints.items())),
            "bloom_cols": sorted(bloom_cols),
            # audit fields (DESCRIBE HISTORY): never read by any
            # correctness path, so the wall-clock stamp is harmless
            "op": op,
            "ts": _time.time(),
        })
        try:
            metaio.IO.write_new(self._manifest_path(version), payload)
        except FileExistsError:
            raise ConflictException(
                f"partitioned table '{self.root}': version {version} "
                f"was published concurrently; retry on a fresh read")

    @staticmethod
    def _pcols_of(man: dict) -> list[str]:
        """The partitioning column list of a manifest — reads the
        modern ``partition_cols`` field, falling back to the legacy
        scalar ``partition_col`` (pre-multi-column manifests)."""
        pc = man.get("partition_cols")
        return list(pc) if pc else [man["partition_col"]]

    def partition_cols(self) -> list[str]:
        return self._pcols_of(self._manifest())

    def partition_col(self) -> str:
        cols = self.partition_cols()
        if len(cols) != 1:
            raise DatabaseException(
                f"'{self.root}' is partitioned on {cols}; use "
                f"partition_cols()")
        return cols[0]

    def _ckey(self, values, pcols: list[str]) -> str:
        """The composite manifest key for one partition — per-level
        ``_key`` components joined by '/', mirroring the hive path.
        ``values`` is a scalar for single-column tables, a full tuple
        for multi-column ones.  Multi-column string values may not
        contain '/' (the join would be ambiguous); the write path
        enforces the same."""
        if not isinstance(values, (tuple, list)):
            values = (values,)
        if len(values) != len(pcols):
            raise DatabaseException(
                f"partition value {values!r} does not match partition "
                f"columns {pcols} (give one value per column)")
        ks = []
        for v in values:
            k = self._key(v)
            if len(pcols) > 1 and "/" in k:
                raise DatabaseException(
                    f"multi-column partition value {v!r} contains '/' "
                    f"(ambiguous composite key); use a sentinel")
            ks.append(k)
        return "/".join(ks)

    def _key(self, value) -> str:
        """The manifest key for a partition value — must equal Spark's
        hive path encoding of it, so keys from ``partition_values=``
        lookups and keys parsed from written directories agree."""
        if value is None:
            raise DatabaseException("NULL partition value")
        if isinstance(value, bool):
            return "true" if value else "false"
        key = str(value)  # str verbatim; int digits; date ISO
        if not key:
            raise DatabaseException(
                "empty-string partition value (hive paths cannot "
                "represent it distinctly); use a sentinel")
        return key

    @staticmethod
    def _file_dir(fname: str, known: set) -> str | None:
        """Map an ``input_file_name()`` URI back to one of the
        manifest's data directories, or None when no decoding matches
        (relative table root, exotic URI encoding) — the caller fails
        closed for just that file's partition."""
        from urllib.parse import unquote, urlparse
        d = os.path.dirname(urlparse(fname).path)
        if d in known:
            return d
        d = unquote(d)
        return d if d in known else None

    def file_directories(self, files, version: int | None = None) \
            -> dict[str, str | None]:
        """Map ``input_file_name()`` URIs back to the manifest
        directory each belongs to (``None`` when no decoding matches
        — the caller fails closed for that file).  Pure driver-side
        metadata, zero Spark jobs.  This is the hook that lets a
        caller-run aggregate grouped by ``input_file_name()`` feed
        :meth:`delete_soft`'s per-DIRECTORY masked counts, keeping
        metadata-only COUNT exact on multi-directory partitions (the
        append-then-soft-delete shape) at zero extra jobs."""
        man = self._manifest(version)
        known = {d for ds in man["parts"].values() for d in ds}
        return {f: self._file_dir(f, known) for f in files}

    def _new_dir(self) -> str:
        return os.path.join(self.root, "parts", uuid.uuid4().hex)

    @staticmethod
    def _hive_names(pcols: list[str]) -> list[str]:
        """The duplicated hive-routing column names: ``__p`` for
        single-column tables (the historical layout every existing
        manifest references), ``__p0``, ``__p1``, ... for
        hierarchical ones."""
        return ["__p"] if len(pcols) == 1 else \
            [f"__p{i}" for i in range(len(pcols))]

    def _write_partitions(self, df: DataFrame,
                          partition_cols,
                          allowed_keys: set | None = None,
                          op: str = "write",
                          enforce: dict | None = None) \
            -> dict[str, list[str]]:
        """Write every partition of ``df`` in ONE Spark job:
        ``partitionBy`` on duplicated columns (``__p`` / ``__p0..n``),
        so the data files keep the real partition columns while hive
        routing happens on the copies.  One job regardless of
        partition count — a per-partition write loop would launch
        |partitions| jobs, which at thousands of partitions is the
        difference between one pass and a scheduler meltdown.  Returns
        ``{composite_key: [leaf_dir]}`` parsed from the staging
        layout; each LEAF PARENT gets its own immutable `_stats.json`
        sidecar (leaf basename → stats), so skipping readers resolve
        stats with ``dirname(d)``/``basename(d)`` at any nesting
        depth.

        Write-path GUARDS run against the STAGED layout, not as
        pre-write jobs over ``df``: a NULL (or empty-string) partition
        value surfaces as a ``__HIVE_DEFAULT_PARTITION__`` directory,
        and with ``allowed_keys`` (the overwrite_partitions
        replaceWhere contract) a stray row surfaces as an unexpected
        staged key — both are driver-side set checks on the walk
        result.  The old shape ran one full aggregation job over the
        input per commit BEFORE the write; for an expensive upstream
        plan (a tokenization, a join) that pass re-executed the whole
        plan, and at warehouse scale it is an entire extra table scan
        per commit.  A guard violation removes the staging tree before
        raising, so nothing uncommitted survives.

        ``enforce`` (the table's CHECK constraints) rides the write
        job the same way: per-constraint violation counts are
        observe() metrics over the rows being written — previously a
        separate pre-write aggregation job per constrained commit —
        and a violation discards the staging before raising, so the
        published table never sees the batch."""
        from urllib.parse import unquote

        from pyspark.sql import Observation

        pcols = [partition_cols] if isinstance(partition_cols, str) \
            else list(partition_cols)
        names = self._hive_names(pcols)
        staging = self._new_dir()
        tmp = df
        for n, c in zip(names, pcols):
            tmp = tmp.withColumn(n, F.col(c))
        obs = None
        if enforce:
            obs = Observation()
            tmp = tmp.observe(obs, *[
                F.coalesce(F.sum((F.expr(e) == F.lit(False))
                                 .cast("bigint")), F.lit(0))
                .alias(f"__viol_{n}")
                for n, e in sorted(enforce.items())])
        tmp.write.mode("error").partitionBy(*names).parquet(staging)
        if obs is not None:
            metrics = obs.get
            for n in sorted(enforce):
                viol = int(metrics[f"__viol_{n}"] or 0)
                if viol:
                    metaio.IO.remove_tree(staging)
                    raise DatabaseException(
                        f"{op} into '{self.root}' violates CHECK "
                        f"constraint '{n}' ({enforce[n]}): {viol} "
                        f"rows")
        out: dict[str, list[str]] = {}
        leaf_name: dict[str, str] = {}
        leaf_parent: dict[str, str] = {}
        hive_default = []

        def walk(cur: str, level: int, key_parts: list[str]) -> None:
            prefix = f"{names[level]}="
            for nm in sorted(metaio.IO.list_dir(cur)):
                if not nm.startswith(prefix):
                    continue
                val = unquote(nm[len(prefix):])
                if val == "__HIVE_DEFAULT_PARTITION__":
                    hive_default.append(pcols[level])
                if len(pcols) > 1 and "/" in val:
                    raise DatabaseException(
                        f"multi-column partition value {val!r} "
                        f"contains '/' (ambiguous composite key); "
                        f"use a sentinel")
                child = os.path.join(cur, nm)
                kp = key_parts + [val]
                if level + 1 == len(pcols):
                    key = "/".join(kp)
                    out[key] = [child]
                    leaf_name[key] = nm
                    leaf_parent[key] = cur
                else:
                    walk(child, level + 1, kp)

        walk(staging, 0, [])
        if hive_default:
            # disambiguate (error path only — one job nothing healthy
            # pays): Spark writes NULL, '' and the literal string
            # '__HIVE_DEFAULT_PARTITION__' to the same directory; only
            # the last is representable, and `_key` already refuses ''.
            # The probe reads the STAGED bytes — the data files keep
            # the real partition columns — not the caller's input
            # plan: a non-deterministic upstream re-execution could
            # show no NULL rows while the staged files do contain
            # them, silently publishing NULL rows under the literal
            # key.  The staging IS what a commit would publish.
            cond = None
            for c in set(hive_default):
                e = F.col(c).isNull()
                if isinstance(df.schema[c].dataType, T.StringType):
                    e = e | (F.col(c) == "")
                cond = e if cond is None else (cond | e)
            if self.spark.read.parquet(staging).where(cond).take(1):
                metaio.IO.remove_tree(staging)
                raise DatabaseException(
                    f"{op} into '{self.root}': NULL partition value "
                    f"(or empty string — hive paths cannot represent "
                    f"it) in column(s) {sorted(set(hive_default))}; "
                    f"the partition column contains NULLs; assign an "
                    f"explicit sentinel partition first")
        if allowed_keys is not None and not set(out) <= allowed_keys:
            strays = sorted(set(out) - allowed_keys)
            metaio.IO.remove_tree(staging)
            raise DatabaseException(
                f"{op} into '{self.root}': rows fall outside the "
                f"named partitions (e.g. {pcols}={strays[0]!r})")
        by_parent: dict[str, dict] = {} if out else {staging: {}}
        for key, ds in out.items():
            by_parent.setdefault(leaf_parent[key], {})[
                leaf_name[key]] = self._dir_stats(ds[0])
        bloom_cols = [c for c in self._active_bloom_cols()
                      if c in df.columns]  # fail-open when absent
        if bloom_cols and out:
            for (key, c), bloom in self._compute_blooms(
                    staging, bloom_cols, set(out), names).items():
                by_parent[leaf_parent[key]][leaf_name[key]] \
                    .setdefault("__bloom", {})[c] = bloom
        # sidecars, immutable with the staging: per-directory min/max
        # bounds (and bloom bitmaps) for read_where / read_point /
        # read_skipping
        for parent, stats in by_parent.items():
            metaio.IO.write_new(os.path.join(parent, "_stats.json"),
                                json.dumps(stats))
        return out

    def _active_bloom_cols(self) -> list[str]:
        if hasattr(self, "_pending_bloom_cols"):
            return self._pending_bloom_cols  # create() path: no manifest
        try:
            return self._manifest().get("bloom_cols", [])
        except DatabaseException:
            return []

    @staticmethod
    def _bloom_hashes(col: F.Column) -> list[F.Column]:
        """The _BLOOM_K max-domain bit positions for one value —
        JVM-side xxhash64 with k salt literals, folded mod
        _BLOOM_MAX_BITS.  Lookup-side hashing MUST cast the probe
        literal to the column's exact type (xxhash64 of int32 ≠ int64
        for the same number)."""
        return [F.pmod(F.xxhash64(col, F.lit(s)),
                       F.lit(_BLOOM_MAX_BITS))
                for s in range(_BLOOM_K)]

    def _compute_blooms(self, staging: str, cols: list[str],
                        keys: set[str],
                        names: list[str] | None = None) \
            -> dict[tuple, dict]:
        """Per-(partition, column) Bloom filters as ``{"bits": m,
        "hex": bitmap}``, built EXECUTOR-SIDE in ONE job over the
        STAGED parquet — never by re-executing the input plan, which
        for a non-deterministic upstream (UDFs, timestamps, samples)
        would hash different values than the files actually hold and
        produce wrong skips; reading the staging also means an
        expensive upstream plan is not paid again per bloom column.
        The distinct max-domain positions (≤ _BLOOM_MAX_BITS per
        partition per column, however big the data) shuffle to their
        group, and an Arrow-batched ``applyInPandas`` sizes each
        filter from its own distinct count (~10 bits/value,
        power-of-two) and sets the bits vectorized — the driver
        receives |partitions|·|cols| rows of at most 1 MiB, never data
        volume.  A partition whose rows are all NULL in a column gets
        an empty (all-zero) filter, which correctly excludes every
        probe (SQL ``= value`` never matches NULL).  Partition-column
        TYPE INFERENCE is disabled for the staged read: hive inference
        would canonicalize numeric-looking STRING partition values
        ('007' → 7 → '7', '1e3' → 1000.0), so the parsed ``__p`` would
        no longer equal the directory-derived ``_key()`` namespace
        ``keys`` uses and every write on such a table would KeyError;
        with inference off ``__p`` is always the verbatim (unescaped)
        directory value, which is exactly the namespace key."""
        import numpy as np
        import pandas as pd

        def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
            n = len(pdf)  # ≈ k × distinct values (post-distinct)
            m = _BLOOM_MIN_BITS
            while m < _BLOOM_MAX_BITS and m < 2.5 * n:
                m <<= 1
            bits = np.zeros(m // 8, dtype=np.uint8)
            # m divides _BLOOM_MAX_BITS, so this fold equals h % m
            p = pdf["__pos"].to_numpy(dtype=np.int64) % m
            np.bitwise_or.at(bits, p // 8,
                             np.left_shift(1, (p % 8)).astype(np.uint8))
            return pd.DataFrame({"__k": [pdf["__k"].iloc[0]],
                                 "__c": [pdf["__c"].iloc[0]],
                                 "bits": [int(m)],
                                 "hex": [bits.tobytes().hex()]})

        conf = "spark.sql.sources.partitionColumnTypeInference.enabled"
        prev = self.spark.conf.get(conf, "true")
        self.spark.conf.set(conf, "false")
        try:
            # partition discovery runs eagerly here, so scoping the
            # conf around the read call is sufficient
            staged = self.spark.read.parquet(staging)
        finally:
            self.spark.conf.set(conf, prev)
        # one exploded (col, position) stream for ALL bloom columns;
        # NULL values contribute nothing (filtered structs)
        structs = F.array(*[
            F.when(F.col(c).isNotNull(),
                   F.struct(F.lit(c).alias("__c"), h.alias("__pos")))
            for c in cols for h in self._bloom_hashes(F.col(c))])
        key_expr = (F.col("__p").cast("string")
                    if not names or names == ["__p"] else
                    F.concat_ws("/", *[F.col(n).cast("string")
                                       for n in names]))
        rows = (staged
                .select(key_expr.alias("__k"),
                        F.explode(F.filter(
                            structs, lambda s: s.isNotNull()))
                        .alias("__s"))
                .select("__k", F.col("__s.__c").alias("__c"),
                        F.col("__s.__pos").alias("__pos"))
                .distinct()
                .groupBy("__k", "__c")
                .applyInPandas(
                    build, "__k string, __c string, bits long, "
                           "hex string")
                .collect())
        blooms = {(k, c): {"bits": _BLOOM_MIN_BITS, "hex": ""}
                  for k in keys for c in cols}
        for r in rows:
            blooms[(r["__k"], r["__c"])] = {"bits": int(r["bits"]),
                                            "hex": r["hex"]}
        return blooms

    # ------------------------------------------------------------------ #
    # data-skipping stats (Delta file-stats analog, dir granularity)
    # ------------------------------------------------------------------ #
    def _dir_stats(self, d: str) -> dict:
        """min/max per column for one data directory, read from parquet
        FOOTERS — no data pages touched.  Runs once per directory at
        write time (directories are immutable), driver-side and bounded
        by the new directory's file count; at cluster scale this is the
        stats-collection task Delta runs inside the write job itself.
        Columns with any stats-less row group are omitted (fail-open:
        no stats → no skipping, never a wrong skip) — a column unsafe
        in ANY file of the directory is omitted from EVERY file's map
        too, keeping the per-file and per-directory guards identical.

        Besides the directory-level bounds this records a ``__files``
        map (file name → that file's bounds + ``__num_rows``): Delta
        skips at FILE granularity, and a directory holding several
        files (``files_per_bucket`` > 1 writes, OPTIMIZE outputs,
        range-partitioned upstreams) prunes per file in
        ``read_skipping`` / ``read_point`` where directory bounds
        straddle the probe but individual files' don't."""
        import pyarrow.parquet as pq

        dropped: set = set()
        per_file: dict[str, tuple] = {}
        for fname in sorted(metaio.IO.list_dir(d)):
            if not fname.endswith(".parquet"):
                continue
            meta = pq.read_metadata(os.path.join(d, fname))
            fmins: dict = {}
            fmaxs: dict = {}
            for rg in range(meta.num_row_groups):
                group = meta.row_group(rg)
                for ci in range(group.num_columns):
                    col = group.column(ci)
                    name = col.path_in_schema
                    if "." in name or name in dropped:
                        continue  # nested leaf — skip
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        dropped.add(name)
                        continue
                    try:
                        lo, hi = st.min, st.max
                    except NotImplementedError:  # INT96 timestamps
                        dropped.add(name)
                        continue
                    if isinstance(lo, bytes):
                        try:
                            lo, hi = lo.decode(), hi.decode()
                        except UnicodeDecodeError:
                            dropped.add(name)
                            continue
                    if hasattr(lo, "isoformat"):
                        lo, hi = lo.isoformat(), hi.isoformat()
                    # ints/bools/strings only: float NaN ordering makes
                    # footer min/max unsafe as skip bounds (UTF-8 byte
                    # order == code-point order, so str compares match
                    # Spark's)
                    if isinstance(lo, float) or \
                            not isinstance(lo, (bool, int, str)):
                        dropped.add(name)
                        continue
                    fmins[name] = lo if name not in fmins else \
                        min(fmins[name], lo)
                    fmaxs[name] = hi if name not in fmaxs else \
                        max(fmaxs[name], hi)
            per_file[fname] = (fmins, fmaxs, meta.num_rows)
        mins: dict = {}
        maxs: dict = {}
        rows = 0
        for fmins, fmaxs, n in per_file.values():
            rows += n
            for c, lo in fmins.items():
                mins[c] = lo if c not in mins else min(mins[c], lo)
                maxs[c] = fmaxs[c] if c not in maxs else \
                    max(maxs[c], fmaxs[c])
        out = {c: [mins[c], maxs[c]] for c in mins if c not in dropped}
        # reserved keys (never column bounds — readers type-guard):
        # exact row count from the footers (the Delta numRecords analog
        # that lets COUNT(*) answer from metadata alone) and the
        # per-file stats map
        out["__num_rows"] = rows
        out["__files"] = {
            f: {**{c: [fm[c], fx[c]] for c in fm if c not in dropped},
                "__num_rows": n}
            for f, (fm, fx, n) in per_file.items()}
        return out

    # ------------------------------------------------------------------ #
    # reads
    # ------------------------------------------------------------------ #
    def read(self, version: int | None = None,
             partition_values=None) -> DataFrame:
        """Scan a version.  ``partition_values`` prunes at the MANIFEST:
        non-matching partitions' directories are never listed, opened,
        or footer-read — the Delta file-skipping analog.

        The scan uses the MANIFEST schema explicitly (the source of
        truth, like Delta reading schema from the log, not from file
        footers): directories written before an additive schema
        evolution reconcile with NULLs for the missing columns, and no
        mergeSchema footer sweep is ever needed."""
        man = self._manifest(version)
        parts = man["parts"]
        if partition_values is not None:
            keep = self._match_keys(parts, partition_values,
                                    self._pcols_of(man))
            parts = {k: v for k, v in parts.items() if k in keep}
        dirs = [d for ds in parts.values() for d in ds]
        return self._scan(dirs, T._parse_datatype_string(man["schema"]),
                          man.get("tombstones", {}))

    def _match_keys(self, parts: dict, partition_values,
                    pcols: list[str]) -> set[str]:
        """The manifest keys ``partition_values`` selects.  Each value
        is a scalar (single-column tables) or a tuple; on multi-column
        tables a tuple SHORTER than the column list (or a scalar) is a
        PREFIX — it selects every partition under that hive subtree,
        the standard hierarchical-pruning shape."""
        exact: set[str] = set()
        prefixes: list[str] = []
        for v in partition_values:
            tup = v if isinstance(v, (tuple, list)) else (v,)
            if len(tup) == len(pcols):
                exact.add(self._ckey(tup, pcols))
            elif len(tup) < len(pcols):
                for comp in tup:
                    if "/" in self._key(comp):
                        raise DatabaseException(
                            f"multi-column partition prefix {comp!r} "
                            f"contains '/' (ambiguous composite key); "
                            f"use a sentinel")
                prefixes.append(
                    self._ckey(tup, pcols[:len(tup)]) + "/")
            else:
                raise DatabaseException(
                    f"partition value {v!r} has more components than "
                    f"partition columns {pcols}")
        return {k for k in parts
                if k in exact
                or any(k.startswith(p) for p in prefixes)}

    def _scan(self, dirs: list[str], schema: T.StructType,
              tombs: dict[str, list[str]],
              files: dict[str, list[str] | None] | None = None) \
            -> DataFrame:
        """One DataFrame over ``dirs`` with each directory's tombstone
        predicates applied (SQL DELETE null semantics: NULL keeps the
        row).  Directories sharing a tombstone set scan together; the
        union arity is the number of DISTINCT tombstone combinations
        (usually 0 or 1), never the directory count.  ``files`` (from
        :meth:`_file_prune`) narrows a directory to an explicit
        admitted-file list — ``None`` per directory means all of it;
        tombstones stay directory-scoped either way (a file inherits
        its directory's delete predicates)."""
        groups: dict[tuple, list[str]] = {}
        for d in dirs:
            groups.setdefault(tuple(tombs.get(d, ())), []).append(d)
        outs = []
        for conds, ds in sorted(groups.items()):
            paths: list[str] = []
            for d in ds:
                fl = files.get(d) if files else None
                paths.extend(fl if fl is not None else [d])
            df = self.spark.read.schema(schema).parquet(*paths)
            for cond in conds:
                # stored tombstone text assumes the DEFAULT literal
                # grammar; a legacy-grammar session would apply it
                # with different semantics — fail loudly, not wrongly
                _assert_default_literal_grammar(
                    self.spark, cond, f"read '{self.root}'")
                c = F.expr(cond)
                df = df.filter(~c | c.isNull())
            outs.append(df)
        if not outs:
            return self.spark.createDataFrame([], schema)
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out

    def _staging_stats(self, staging: str) -> dict:
        """Parsed `_stats.json` for one staging, memoized per instance
        (the sidecar is immutable with its staging, so the cache can
        never serve stale bounds).  A missing/corrupt sidecar caches
        its fail-open {} too: retrying it per directory would just
        repeat the miss."""
        hit = self._stats_cache.get(staging)
        if hit is None:
            try:
                hit = json.loads(metaio.IO.read_text(
                    os.path.join(staging, "_stats.json")))
            except (OSError, ValueError):
                hit = {}  # fail-open: no stats, no skipping
            self._stats_cache[staging] = hit
        return hit

    @staticmethod
    def _bound(v):
        return v.isoformat() if hasattr(v, "isoformat") else v

    def read_where(self, column: str, lo=None, hi=None,
                   version: int | None = None) -> DataFrame:
        """Stats-skipping range scan (Delta data-skipping at directory
        granularity): directories whose footer-derived ``[min, max]``
        for ``column`` cannot intersect ``[lo, hi]`` are dropped from
        the scan WITHOUT opening them; survivors still get the exact
        filter, so the result equals ``read().filter(...)`` — skipping
        is a pure I/O optimization.  Directories without recorded
        bounds for the column are kept (fail-open).  Pass bounds in the
        column's native type (dates compare via ISO strings).  A thin
        alias of :meth:`read_skipping` with one range conjunct — kept
        as the discoverable single-range entry point."""
        return self.read_skipping(ranges={column: (lo, hi)},
                                  version=version)

    def _point_dirs(self, column: str, value,
                    version: int | None = None,
                    man: dict | None = None) -> list[str]:
        """The directories a ``column = value`` lookup must scan after
        Bloom skipping: a directory whose stored filter has any of the
        probe's bit positions unset PROVABLY lacks the value and is
        dropped; directories without a filter (column not indexed,
        pre-bloom writes, unreadable sidecar) are kept — fail-open,
        never a wrong skip.  The probe positions hash driver-side with
        the same JVM xxhash64 the write used (one 1-row job, so the
        literal is hashed as the column's exact type).  ``man`` lets a
        caller that already parsed the manifest (the skipping loops —
        one per eq column, per IN value, per OR branch) avoid
        re-reading it from disk each probe."""
        if man is None:
            man = self._manifest(version)
        if value is None:
            raise DatabaseException(
                f"read_point '{self.root}': NULL probe (SQL '= NULL' "
                f"matches nothing; use an isNull filter on read())")
        from cs186_query_optimization_project_spark import xxh64

        pcols = self._pcols_of(man)
        if column in pcols:
            # exact manifest pruning — no bloom needed for a
            # partition column, and no false positives either: the
            # probe matches its hive path COMPONENT, so ANY level of
            # a hierarchical layout prunes exactly, not just the
            # first.  A probe already OF the column's native type
            # prunes with zero Spark jobs; a mismatched probe
            # (read_point(k, 5.0) on a long column) is COERCED by the
            # JVM's own cast (one 1-row job) so it prunes to
            # partition "5" the way read().filter(col == 5.0) matches
            # it; an uncastable probe can match nothing.  A lossy
            # coercion (5.7 → 5) may keep a partition the exact
            # filter then empties — result equality is preserved,
            # skipping stays I/O-only.
            dtype = T._parse_datatype_string(
                man["schema"])[column].dataType
            if xxh64.native_match(value, dtype):
                coerced = value
            else:
                coerced = self.spark.range(1).select(
                    F.lit(value).cast(dtype).alias("v")) \
                    .collect()[0]["v"]
            if coerced is None:
                return []
            if len(pcols) == 1:
                return list(man["parts"].get(self._key(coerced), []))
            i = pcols.index(column)
            want = self._key(coerced)
            return [d for k, ds in man["parts"].items()
                    if k.split("/")[i] == want for d in ds]
        if column not in man.get("bloom_cols", []):
            return [d for ds in man["parts"].values() for d in ds]
        # probe-side hashing replays the write side's
        # pmod(xxhash64(col, lit(s)), MAX_BITS) DRIVER-SIDE for probes
        # of the column's native type (xxh64.py, differentially tested
        # against the JVM) — read_point issues zero Spark jobs before
        # the pruned scan; anything else falls back to one 1-row JVM
        # evaluation, which also applies Spark's cast
        dtype = T._parse_datatype_string(man["schema"])[column].dataType
        pos = self._probe_positions(column, value, dtype)
        return [d for ds in man["parts"].values() for d in ds
                if self._bloom_admits(
                    self._staging_stats(os.path.dirname(d))
                    .get(os.path.basename(d), {}), column, pos)]

    def _probe_positions(self, column: str, value,
                         dtype: T.DataType) -> list[int]:
        """The _BLOOM_K probe bit positions for ``column = value`` —
        driver-side xxh64 replay for native-typed probes (zero Spark
        jobs), one 1-row JVM evaluation otherwise (which also applies
        Spark's cast)."""
        from cs186_query_optimization_project_spark import xxh64

        hashes = [xxh64.xxhash64_typed(value, dtype, s)
                  for s in range(_BLOOM_K)]
        if all(h is not None for h in hashes):
            return [h % _BLOOM_MAX_BITS for h in hashes]
        return list(self.spark.range(1).select(
            *[h.alias(f"p{i}") for i, h in enumerate(
                self._bloom_hashes(F.lit(value).cast(dtype)))])
            .collect()[0])

    @staticmethod
    def _bloom_admits(stats: dict, column: str,
                      pos: list[int]) -> bool:
        """False only when the directory's stored filter PROVES the
        probe absent; True (fail-open) without a filter."""
        bloom = stats.get("__bloom", {}).get(column)
        if not isinstance(bloom, dict):
            return True
        m = bloom["bits"]
        bits = bytes.fromhex(bloom["hex"])
        # empty hex = all-NULL directory: excludes every probe.  m
        # divides _BLOOM_MAX_BITS, so p % m replays the write fold.
        return bool(bits) and all(
            bits[(p % m) // 8] & (1 << ((p % m) % 8)) for p in pos)

    def read_skipping(self, eq: dict | None = None,
                      ranges: dict | None = None,
                      isin: dict | None = None,
                      version: int | None = None) -> DataFrame:
        """CONJUNCTIVE multi-column data skipping — Delta's file-stats
        skipping generalized to several predicates at once: a
        directory is dropped when ANY conjunct disproves it.  ``eq``
        maps columns to equality probes (partition column → exact
        manifest pruning; Bloom-indexed columns → membership pruning;
        every stats-recorded column → bounds containment); ``ranges``
        maps columns to ``(lo, hi)`` bounds-intersection pruning
        (either end may be None); ``isin`` maps columns to value LISTS
        (``col IN (v1..vn)`` — the other common metadata-prunable
        point shape): a directory survives an IN conjunct when ANY of
        its values admits it (union of per-value Bloom + bounds
        probes; partition columns take the union of their component
        matches), and the conjuncts still intersect across columns.
        Survivors still get every exact filter, so the result ALWAYS
        equals ``read()`` + the conjunction — skipping is pure I/O.
        Each conjunct prunes multiplicatively where predicates are
        independent, which is what makes multi-predicate point
        queries cheap on tables too big for any single clustering
        order to serve every column."""
        eq = dict(eq or {})
        ranges = dict(ranges or {})
        isin = {c: list(vs) for c, vs in (isin or {}).items()}
        man = self._manifest(version)
        schema = T._parse_datatype_string(man["schema"])
        self._validate_skip_args(schema, eq, ranges, isin)
        keep = self._admitted_dirs(man, schema, eq, ranges, isin,
                                   version)
        files = self._file_prune(keep, eq, ranges, isin)
        out = self._scan(list(files), schema,
                         man.get("tombstones", {}), files=files)
        return out.filter(self._conjunction(eq, ranges, isin))

    def read_skipping_any(self, branches: list,
                          version: int | None = None) -> DataFrame:
        """DISJUNCTIVE data skipping — an OR of conjunctive branches,
        each a ``{"eq": .., "ranges": .., "isin": ..}`` dict with
        :meth:`read_skipping` semantics: the scan reads the UNION of
        the branches' admitted directories (a directory is skipped
        only when EVERY branch disproves it), then the exact OR-of-
        conjunctions filter applies, so the result always equals
        ``read().filter(b1 | b2 | ...)``.  The common 100 TB shape it
        serves: multi-tenant backfills like ``(date='d1' AND src='a')
        OR (date='d2' AND src='b')`` — per-branch manifest/Bloom/
        bounds pruning where a single conjunctive prune cannot help.
        Empty branches are refused (an always-true branch admits
        everything — ask ``read()`` for that explicitly)."""
        man = self._manifest(version)
        schema = T._parse_datatype_string(man["schema"])
        norm = self._normalize_branches(schema, branches,
                                        "read_skipping_any")
        merged = self._merged_admission(man, schema, norm, version)
        keep = [d for ds in man["parts"].values() for d in ds
                if d in merged]  # manifest order, deduped
        out = self._scan(keep, schema, man.get("tombstones", {}),
                         files=merged)
        cond = None
        for eq, ranges, isin in norm:
            c = self._conjunction(eq, ranges, isin)
            cond = c if cond is None else (cond | c)
        return out.filter(cond)

    def _normalize_branches(self, schema, branches: list,
                            caller: str) -> list[tuple]:
        """Validate + normalize disjunctive branches (shared by
        :meth:`read_skipping_any` and :meth:`skipping_report_any`)."""
        if not branches:
            raise DatabaseException(
                f"{caller} '{self.root}': no branches")
        norm = []
        for b in branches:
            extra = set(b) - {"eq", "ranges", "isin"}
            if extra:
                raise DatabaseException(
                    f"{caller} '{self.root}': unknown branch "
                    f"keys {sorted(extra)} (expected eq/ranges/isin)")
            eq = dict(b.get("eq") or {})
            ranges = dict(b.get("ranges") or {})
            isin = {c: list(vs)
                    for c, vs in (b.get("isin") or {}).items()}
            if not (eq or ranges or isin):
                raise DatabaseException(
                    f"{caller} '{self.root}': empty branch "
                    f"(always-true; use read() explicitly)")
            self._validate_skip_args(schema, eq, ranges, isin)
            norm.append((eq, ranges, isin))
        return norm

    def _merged_admission(self, man: dict, schema, norm: list[tuple],
                          version: int | None) \
            -> dict[str, list[str] | None]:
        """Per-branch directory AND file admission, unioned: a
        directory (or a file) is skipped only when EVERY branch
        disproves it."""
        merged: dict[str, list[str] | None] = {}
        for eq, ranges, isin in norm:
            adm = self._admitted_dirs(man, schema, eq, ranges, isin,
                                      version)
            for d, fl in self._file_prune(adm, eq, ranges,
                                          isin).items():
                if d not in merged:
                    merged[d] = None if fl is None else list(fl)
                elif merged[d] is not None:
                    if fl is None:
                        merged[d] = None
                    else:
                        merged[d].extend(
                            f for f in fl if f not in merged[d])
        return merged

    def _validate_skip_args(self, schema, eq: dict, ranges: dict,
                            isin: dict) -> None:
        for c in list(eq) + list(ranges) + list(isin):
            if c not in schema.names:
                raise DatabaseException(
                    f"read_skipping '{self.root}': no column '{c}' in "
                    f"{schema.names}")
        for c, v in eq.items():
            if v is None:
                raise DatabaseException(
                    f"read_skipping '{self.root}': NULL probe on "
                    f"'{c}' (SQL '= NULL' matches nothing; use an "
                    f"isNull filter on read())")
        for c, vs in isin.items():
            if not vs or any(v is None for v in vs):
                raise DatabaseException(
                    f"read_skipping '{self.root}': IN list on '{c}' "
                    f"must be non-empty and NULL-free (SQL IN never "
                    f"matches NULL; use an isNull filter on read())")

    @staticmethod
    def _conjunction(eq: dict, ranges: dict, isin: dict):
        """The exact predicate a skipping read re-applies — survivors
        always get it, keeping skipping a pure I/O optimization."""
        cond = F.lit(True)
        for c, v in eq.items():
            cond = cond & (F.col(c) == F.lit(v))
        for c, vs in isin.items():
            cond = cond & F.col(c).isin(vs)
        for c, (lo, hi) in ranges.items():
            if lo is not None:
                cond = cond & (F.col(c) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(c) <= F.lit(hi))
        return cond

    def _stats_disprove(self, stats: dict, eq: dict, ranges: dict,
                        isin: dict) -> bool:
        """True when recorded ``[min, max]`` bounds in ``stats`` (a
        directory's OR one file's map) disprove the conjunction.
        Missing bounds and probe/stat type mismatches fail OPEN (the
        exact filter still applies Spark's own cast downstream), so a
        True here is always a PROOF of emptiness."""
        for c, v in eq.items():
            st = stats.get(c)
            b = self._bound(v)
            try:
                if isinstance(st, (list, tuple)) and \
                        (b < st[0] or b > st[1]):
                    return True
            except TypeError:
                pass
        for c, vs in isin.items():
            st = stats.get(c)
            if not isinstance(st, (list, tuple)):
                continue
            admits_any = False
            for v in vs:
                b = self._bound(v)
                try:
                    if b < st[0] or b > st[1]:
                        continue  # bounds disprove this value
                except TypeError:
                    pass  # type mismatch: this value fails open
                admits_any = True
                break
            if not admits_any:
                return True
        for c, (lo, hi) in ranges.items():
            st = stats.get(c)
            if not isinstance(st, (list, tuple)):
                continue
            lo_b, hi_b = self._bound(lo), self._bound(hi)
            try:
                if (lo_b is not None and st[1] < lo_b) or \
                        (hi_b is not None and st[0] > hi_b):
                    return True
            except TypeError:
                continue
        return False

    def _file_prune(self, dirs: list[str], eq: dict, ranges: dict,
                    isin: dict) -> dict[str, list[str] | None]:
        """FILE-granularity skipping within already-admitted
        directories (the Delta per-file stats step below our
        directory manifests): each admitted directory's ``__files``
        map is checked against the same bounds conjunction, and the
        scan narrows to the files it cannot disprove.  Returns
        ``{dir: admitted file paths}`` in input order — ``None``
        meaning the whole directory (legacy sidecars without a
        ``__files`` map fail open; a fully-admitted directory scans
        as itself, the cheaper listing) — with fully-disproved
        directories OMITTED.  Partition-column conjuncts are safe
        here too: every row of a file shares the value, so its
        recorded bounds disprove exactly."""
        out: dict[str, list[str] | None] = {}
        for d in dirs:
            fstats = (self._staging_stats(os.path.dirname(d))
                      .get(os.path.basename(d), {}).get("__files"))
            if not isinstance(fstats, dict) or not fstats:
                out[d] = None  # fail open: no per-file map
                continue
            keep = [f for f, fs in sorted(fstats.items())
                    if isinstance(fs, dict)
                    and not self._stats_disprove(fs, eq, ranges, isin)]
            if not keep:
                continue  # every file disproved: drop the directory
            out[d] = None if len(keep) == len(fstats) else \
                [os.path.join(d, f) for f in keep]
        return out

    def _admitted_dirs(self, man: dict, schema, eq: dict, ranges: dict,
                       isin: dict, version: int | None) -> list[str]:
        """The directories one conjunction cannot disprove — the
        shared admission core of :meth:`read_skipping` (AND) and
        :meth:`read_skipping_any` (OR of ANDs)."""
        pcols = self._pcols_of(man)
        dirs = [d for ds in man["parts"].values() for d in ds]
        for c in pcols:
            if c in eq:  # each partition component prunes exactly
                admitted = set(self._point_dirs(c, eq[c], version,
                                                man=man))
                dirs = [d for d in dirs if d in admitted]
            if c in isin:  # IN on a partition column: union of exact
                admitted = set()  # component matches
                for v in isin[c]:
                    admitted.update(self._point_dirs(c, v, version,
                                                     man=man))
                dirs = [d for d in dirs if d in admitted]
        probes = {c: self._probe_positions(c, v, schema[c].dataType)
                  for c, v in eq.items()
                  if c not in pcols and c in man.get("bloom_cols", [])}
        in_probes = {c: [self._probe_positions(c, v,
                                               schema[c].dataType)
                         for v in vs]
                     for c, vs in isin.items()
                     if c not in pcols
                     and c in man.get("bloom_cols", [])}
        keep = []
        for d in dirs:
            stats = (self._staging_stats(os.path.dirname(d))
                     .get(os.path.basename(d), {}))
            ok = True
            for c, v in eq.items():
                if c in pcols:
                    continue
                if c in probes and \
                        not self._bloom_admits(stats, c, probes[c]):
                    ok = False
                    break
                st = stats.get(c)
                b = self._bound(v)
                try:
                    if isinstance(st, (list, tuple)) and \
                            (b < st[0] or b > st[1]):
                        ok = False  # bounds disprove the equality
                        break
                except TypeError:
                    pass  # probe/stat type mismatch: fail open —
                    # the exact filter still applies Spark's cast
            if ok:
                for c, vs in isin.items():
                    if c in pcols:
                        continue  # pruned at the manifest above
                    admits_any = False
                    for i, v in enumerate(vs):
                        if c in in_probes and not self._bloom_admits(
                                stats, c, in_probes[c][i]):
                            continue  # this value provably absent
                        st = stats.get(c)
                        b = self._bound(v)
                        try:
                            if isinstance(st, (list, tuple)) and \
                                    (b < st[0] or b > st[1]):
                                continue  # bounds disprove this value
                        except TypeError:
                            pass  # type mismatch: fail open
                        admits_any = True
                        break
                    if not admits_any:
                        ok = False  # every IN value disproved
                        break
            if ok:
                for c, (lo, hi) in ranges.items():
                    st = stats.get(c)
                    if not isinstance(st, (list, tuple)):
                        continue  # fail-open: no bounds, no skip
                    lo_b, hi_b = self._bound(lo), self._bound(hi)
                    try:
                        if (lo_b is not None and st[1] < lo_b) or \
                                (hi_b is not None and st[0] > hi_b):
                            ok = False
                            break
                    except TypeError:
                        continue  # type mismatch: fail open
            if ok:
                keep.append(d)
        return keep

    def skipping_report(self, eq: dict | None = None,
                        ranges: dict | None = None,
                        isin: dict | None = None,
                        version: int | None = None) -> list[dict]:
        """EXPLAIN for data skipping — what :meth:`read_skipping`
        with the same arguments would scan, per directory, WITHOUT
        scanning anything: ``[{"key", "dir", "status", "files_total",
        "files_admitted"}, ...]`` where status is ``scanned`` /
        ``pruned_dir`` (manifest, Bloom, or bounds disproved the
        whole directory) / ``pruned_files`` (every individual file
        disproved).  ``files_total`` is None for legacy sidecars
        without a per-file map (those scan whole, fail-open).

        Built ON the same `_admitted_dirs` + `_file_prune` calls the
        read itself makes — the report can never diverge from what a
        real scan would list.  Pure driver metadata, zero Spark jobs:
        the skipping-efficiency dashboard ("this predicate touches 3
        of 4,100 directories / 5 of 19k files") without paying for a
        query."""
        eq = dict(eq or {})
        ranges = dict(ranges or {})
        isin = {c: list(vs) for c, vs in (isin or {}).items()}
        man = self._manifest(version)
        schema = T._parse_datatype_string(man["schema"])
        self._validate_skip_args(schema, eq, ranges, isin)
        admitted = set(self._admitted_dirs(man, schema, eq, ranges,
                                           isin, version))
        files = self._file_prune(sorted(admitted), eq, ranges, isin)
        return self._report_rows(man, admitted, files)

    def _report_rows(self, man: dict, admitted: set,
                     files: dict[str, list[str] | None],
                     extra: dict | None = None) -> list[dict]:
        """One report row per manifest directory from an admission
        result — the shared rendering of :meth:`skipping_report` and
        :meth:`skipping_report_any`.  Each row also carries the
        directory's TOMBSTONE DEBT (``tombstones`` = live predicate
        count, ``masked_rows`` = recorded DV cardinality or None when
        unknown, ``masked_fraction`` of the directory's footer row
        count) — the read-time filter work soft deletes have
        accumulated, i.e. the when-to-``optimize`` signal."""
        out = []
        for key, ds in man["parts"].items():
            for d in ds:
                st = (self._staging_stats(os.path.dirname(d))
                      .get(os.path.basename(d), {}))
                fstats = st.get("__files")
                total = len(fstats) if isinstance(fstats, dict) \
                    and fstats else None
                if d not in admitted:
                    status, n_adm = "pruned_dir", 0
                elif d not in files:
                    status, n_adm = "pruned_files", 0
                else:
                    fl = files[d]
                    n_adm = total if fl is None else len(fl)
                    status = "scanned"
                n_tomb = len(man.get("tombstones", {}).get(d, []))
                masked = self._masked_count(man, d)
                nrows = st.get("__num_rows")
                frac = (round(masked / nrows, 6)
                        if isinstance(masked, int)
                        and isinstance(nrows, int) and nrows else
                        (0.0 if masked == 0 else None))
                out.append({**(extra or {}),
                            "key": key, "dir": d, "status": status,
                            "files_total": total,
                            "files_admitted": n_adm,
                            "tombstones": n_tomb,
                            "masked_rows": masked,
                            "masked_fraction": frac})
        return out

    def tombstone_debt(self, version: int | None = None) -> list[dict]:
        """Per-directory soft-delete debt without any predicate —
        ``[{"key", "dir", "tombstones", "masked_rows", "rows_total",
        "masked_fraction"}, ...]`` from manifest + footer stats, zero
        Spark jobs.  ``masked_rows`` is None (unknown) for tombstones
        recorded without a cardinality (``delete_soft(...,
        masked_counts=None)`` or legacy manifests) — treat unknown as
        "optimize now".  The companion of :meth:`skipping_report`'s
        per-row debt columns when no skipping question is being
        asked."""
        man = self._manifest(version)
        out = []
        for key, ds in man["parts"].items():
            for d in ds:
                n_tomb = len(man.get("tombstones", {}).get(d, []))
                masked = self._masked_count(man, d)
                nrows = (self._staging_stats(os.path.dirname(d))
                         .get(os.path.basename(d), {})
                         .get("__num_rows"))
                frac = (round(masked / nrows, 6)
                        if isinstance(masked, int)
                        and isinstance(nrows, int) and nrows else
                        (0.0 if masked == 0 else None))
                out.append({"key": key, "dir": d,
                            "tombstones": n_tomb,
                            "masked_rows": masked,
                            "rows_total": nrows
                            if isinstance(nrows, int) else None,
                            "masked_fraction": frac})
        return out

    def skipping_report_any(self, branches: list,
                            version: int | None = None) -> list[dict]:
        """EXPLAIN for DISJUNCTIVE data skipping — what
        :meth:`read_skipping_any` with the same branches would scan,
        without scanning anything.  Returns per-BRANCH rows (``branch``
        = 0..n-1: that branch's own admission verdict per directory,
        the same shape as :meth:`skipping_report`) followed by the
        ``branch = "union"`` rows describing what the actual scan
        touches (a directory is scanned iff ANY branch admits it; its
        admitted file count is the union of the branches' admitted
        files).  Built on the same `_normalize_branches` +
        `_merged_admission` calls the read itself makes, so the union
        rows can never diverge from a real scan; pure driver metadata,
        zero Spark jobs."""
        man = self._manifest(version)
        schema = T._parse_datatype_string(man["schema"])
        norm = self._normalize_branches(schema, branches,
                                        "skipping_report_any")
        out = []
        adm_union: set = set()
        merged: dict[str, list[str] | None] = {}
        for i, (eq, ranges, isin) in enumerate(norm):
            adm = set(self._admitted_dirs(man, schema, eq, ranges,
                                          isin, version))
            files = self._file_prune(sorted(adm), eq, ranges, isin)
            out.extend(self._report_rows(man, adm, files,
                                         extra={"branch": i}))
            adm_union |= adm
            for d, fl in files.items():   # same union rule as the read
                if d not in merged:
                    merged[d] = None if fl is None else list(fl)
                elif merged[d] is not None:
                    if fl is None:
                        merged[d] = None
                    else:
                        merged[d].extend(
                            f for f in fl if f not in merged[d])
        out.extend(self._report_rows(man, adm_union, merged,
                                     extra={"branch": "union"}))
        return out

    def read_point(self, column: str, value,
                   version: int | None = None) -> DataFrame:
        """Point lookup: ``read(version).filter(col == value)``, tombstones
        applied, answered one of two ways.

        A repeated probe of a version within the broadcast threshold is
        served from a point index pinned to the resolved manifest
        (pointindex.py): the second probe of a column takes one Arrow
        copy of ``read(version)``, later probes return a local DataFrame
        over the matching rows (no Spark job).  Only the most recently
        probed version is held; probing another drops it.  ``version``
        is validated first, so a vacuumed or unknown version raises as
        it always has.

        Otherwise the Bloom-index scan runs (Delta bloom-filter-index
        analog at directory granularity): only the directories whose
        filter admits the value are scanned — see :meth:`_point_dirs` —
        then the exact predicate applies, so skipping is a pure I/O
        optimization.  The win case is a high-cardinality column (ids,
        hashes, URLs) spread over many append directories where min/max
        ranges overlap everywhere: membership, not range, is what
        prunes.  Admitted directories additionally narrow to the FILES
        whose recorded bounds admit the value (:meth:`_file_prune`) —
        still zero Spark jobs before the pruned scan."""
        man = self._manifest(version)
        index = self._pinned_index(man)
        schema = index.schema
        hit = index.lookup(column, value)
        if hit is not None:
            return self.spark.createDataFrame(hit, schema)
        files = self._file_prune(
            self._point_dirs(column, value, man=man),
            {column: value}, {}, {})
        out = self._scan(list(files), schema,
                         man.get("tombstones", {}), files=files)
        return out.filter(F.col(column) == F.lit(value))

    def _pinned_index(self, man: dict) -> PointIndex:
        """The point index of the version ``man`` describes (its
        ``schema`` is the parsed manifest schema), replacing the one
        held for any other manifest."""
        with self._point_lock:
            if self._point_index is None or self._point_index[0] != man:
                schema = T._parse_datatype_string(man["schema"])
                dirs = [d for ds in man["parts"].values() for d in ds]
                tombs = man.get("tombstones", {})
                self._point_index = (man, PointIndex(
                    schema, lambda: self._scan(dirs, schema, tombs)))
            return self._point_index[1]

    #: read_pruned_by's driver-side key budget.  Spark's own DPP
    #: caps the reused broadcast by the broadcast thresholds; ours is
    #: a distinct-key count — 100k scalar keys is well under a
    #: megabyte of driver heap, while anything past it says "that is
    #: not a dimension table" and the plain join is the right plan.
    PRUNE_KEY_CAP = 100_000

    def read_pruned_by(self, dim: DataFrame, dim_col: str,
                       version: int | None = None,
                       max_keys: int = PRUNE_KEY_CAP) -> DataFrame:
        """Dynamic-partition-pruning analog at the manifest: collect
        the dimension side's distinct join keys (bounded by the dim's
        key cardinality — DPP's broadcast-exchange reuse, expressed as
        a driver-side manifest prune) and scan ONLY the matching
        partitions.  Join the result to the dim afterwards (broadcast
        it — it was small enough to collect); non-matching fact
        partitions' directories are never listed or opened, which is
        strictly stronger than Spark's file-source DPP (no footer
        reads).  NULL dim keys never match an equi-join and are
        dropped from the prune set.

        The key pull is COUNT-GUARDED (``max_keys``, default
        ``PRUNE_KEY_CAP``): the distinct collect is capped at
        ``max_keys + 1`` rows, and a dim that exceeds the budget
        falls back to the plain full read — the caller's join still
        returns exactly the same rows (pruning is a pure I/O
        optimization), the driver just declines to hold an unbounded
        key set.  A high-cardinality "dim" therefore degrades to the
        ordinary shuffle join instead of OOMing the driver."""
        # NULLs drop BEFORE the limit: a NULL inside the limited
        # sample would otherwise mask an overflow and ship an
        # incomplete key set — wrong pruning, not just a missed cap
        keys = [r[0] for r in (dim.select(dim_col)
                               .filter(F.col(dim_col).isNotNull())
                               .distinct()
                               .limit(max_keys + 1).collect())]
        if len(keys) > max_keys:
            return self.read(version)     # not a dim: prune declined
        return self.read(version, partition_values=keys)

    def _masked_count(self, man: dict, d: str) -> int | None:
        """Rows directory ``d``'s live tombstones hide: 0 when it has
        none, the recorded DV cardinality when every one was counted
        at soft-delete time, ``None`` (fail closed) for legacy
        tombstones of unknown cardinality."""
        if not man.get("tombstones", {}).get(d):
            return 0
        n = man.get("tomb_counts", {}).get(d)
        return n if isinstance(n, int) else None

    def metadata_group_counts(self, version: int | None = None) \
            -> dict[str, int] | None:
        """Exact per-partition-value row counts — ``GROUP BY
        partition_col`` answered from manifest + footer stats with
        ZERO Spark jobs — or ``None`` when metadata alone cannot
        answer (fail-closed): any directory without a recorded row
        count, or a live tombstone whose masked-row cardinality was
        not recorded at soft-delete time (tombstones WITH recorded
        cardinalities subtract exactly — the Delta DV-cardinality
        move).  Keys are the manifest's hive-encoded partition values;
        partitions with zero remaining rows are omitted, matching SQL
        GROUP BY (no empty groups).  Driver cost O(|directories|)."""
        man = self._manifest(version)
        out: dict[str, int] = {}
        for key, ds in man["parts"].items():
            total = 0
            for d in ds:
                st = (self._staging_stats(os.path.dirname(d))
                      .get(os.path.basename(d), {}).get("__num_rows"))
                masked = self._masked_count(man, d)
                if not isinstance(st, int) or masked is None:
                    return None
                total += st - masked
            if total:
                out[key] = total
        return out

    # ------------------------------------------------------------------ #
    # metadata-only aggregates (Delta answers COUNT(*)/MIN/MAX from
    # file stats without scanning; same contract here at directory
    # granularity — zero Spark jobs, O(|directories|) driver work)
    # ------------------------------------------------------------------ #
    def metadata_count(self, version: int | None = None) -> int | None:
        """Exact COUNT(*) from manifest + footer stats, or ``None``
        when metadata alone cannot answer (fail-closed): any directory
        written before stats carried row counts, or a live tombstone
        whose masked-row cardinality was not recorded at soft-delete
        time.  Tombstones WITH recorded cardinalities subtract exactly
        (the Delta deletion-vector cardinality move), so soft deletes
        no longer forfeit metadata-only COUNT.  Callers fall back to
        ``read().count()``."""
        man = self._manifest(version)
        total = 0
        for ds in man["parts"].values():
            for d in ds:
                st = (self._staging_stats(os.path.dirname(d))
                      .get(os.path.basename(d), {}).get("__num_rows"))
                masked = self._masked_count(man, d)
                if not isinstance(st, int) or masked is None:
                    return None
                total += st - masked
        return total

    def metadata_min_max(self, column: str,
                         version: int | None = None):
        """Exact global ``(min, max)`` of ``column`` from the skipping
        stats, or ``None`` when not answerable: live tombstones (the
        true min/max row may be soft-deleted), an empty table, or any
        directory without recorded bounds for the column (floats and
        nested types never record — see ``_dir_stats``).  Values come
        back as stored in the stats (ints native; dates/timestamps as
        ISO strings)."""
        man = self._manifest(version)
        if any(ts for ts in man.get("tombstones", {}).values()):
            return None
        lo = hi = None
        seen = False
        for ds in man["parts"].values():
            for d in ds:
                stats = (self._staging_stats(os.path.dirname(d))
                         .get(os.path.basename(d), {}))
                if stats.get("__num_rows") == 0:
                    continue  # empty rewrite artifact: no bounds, no rows
                st = stats.get(column)
                if not isinstance(st, (list, tuple)):
                    return None
                seen = True
                lo = st[0] if lo is None else min(lo, st[0])
                hi = st[1] if hi is None else max(hi, st[1])
        return (lo, hi) if seen else None

    def metadata_group_min_max(self, column: str,
                               version: int | None = None) \
            -> dict[str, tuple] | None:
        """Exact per-partition-key ``(min, max)`` of ``column`` from
        the skipping stats — ``GROUP BY partition cols`` MIN/MAX with
        ZERO Spark jobs — or ``None`` when metadata alone cannot
        answer (fail-closed): live tombstones (a masked row can own a
        group's extremum) or any non-empty directory without recorded
        bounds.  Keys are the manifest's composite hive keys; groups
        with zero remaining rows are omitted, matching SQL GROUP BY.
        Driver cost O(|directories|) — the partition-level dashboard
        query ("newest record per day/source") answered without
        touching data."""
        man = self._manifest(version)
        if any(ts for ts in man.get("tombstones", {}).values()):
            return None
        out: dict[str, tuple] = {}
        for key, ds in man["parts"].items():
            lo = hi = None
            seen = False
            for d in ds:
                stats = (self._staging_stats(os.path.dirname(d))
                         .get(os.path.basename(d), {}))
                if stats.get("__num_rows") == 0:
                    continue  # empty rewrite artifact
                st = stats.get(column)
                if not isinstance(st, (list, tuple)):
                    return None
                seen = True
                lo = st[0] if lo is None else min(lo, st[0])
                hi = st[1] if hi is None else max(hi, st[1])
            if seen:
                out[key] = (lo, hi)
        return out

    # ------------------------------------------------------------------ #
    # DML — O(touched partitions)
    # ------------------------------------------------------------------ #
    def _touched(self, df: DataFrame, condition, pcols) -> list:
        """Partition values owning at least one row matching
        ``condition`` — |partitions|-bounded collect.  Scalars for
        single-column tables, full tuples for hierarchical ones."""
        if isinstance(pcols, str):
            pcols = [pcols]
        rows = (df.filter(condition)
                .select(*pcols).distinct().collect())
        return [r[0] for r in rows] if len(pcols) == 1 \
            else [tuple(r) for r in rows]

    def insert(self, rows: DataFrame,
               merge_schema: bool = False) -> "PartitionedTable":
        """Append — writes ONE NEW directory per touched partition and
        re-links every existing directory untouched (no rewrite of any
        existing byte; the manifest's dir-lists absorb the append).

        ``merge_schema=True`` is Delta's additive schema evolution: the
        batch may carry NEW trailing columns (recorded in the widened
        manifest schema; old directories are never rewritten — reads
        reconcile them with NULLs via a mergeSchema scan), but may
        never drop, retype, or reorder existing columns."""
        man = self._manifest()
        pcols = self._pcols_of(man)
        expected = T._parse_datatype_string(man["schema"])
        got = rows.schema
        if merge_schema:
            old = [(f.name, f.dataType) for f in expected.fields]
            new = [(f.name, f.dataType) for f in got.fields]
            if new[:len(old)] != old:
                raise DatabaseException(
                    f"insert into '{self.root}': merge_schema only ADDS "
                    f"trailing columns; table has "
                    f"{expected.simpleString()}, rows have "
                    f"{got.simpleString()}")
            expected = got  # widened schema published with this commit
        elif [(f.name, f.dataType) for f in expected.fields] != \
                [(f.name, f.dataType) for f in got.fields]:
            raise DatabaseException(
                f"insert into '{self.root}': schema mismatch; table "
                f"has {expected.simpleString()}, rows have "
                f"{got.simpleString()}")
        parts = {k: list(v) for k, v in man["parts"].items()}
        # NULL-partition and CHECK-constraint guards ride the write
        # job inside _write_partitions — no pre-write pass over rows
        for key, ds in self._write_partitions(
                rows, pcols, op="insert",
                enforce=man.get("constraints", {})).items():
            parts.setdefault(key, []).extend(ds)
        self._commit(man["version"] + 1, pcols, expected, parts,
                     man.get("txns", {}),
                     man.get("tombstones", {}), op="INSERT")
        return self

    def overwrite_partitions(self, rows: DataFrame,
                             partition_values: list) \
            -> "PartitionedTable":
        """Delta ``replaceWhere`` on the partition column: ONE commit
        that swaps the named partitions' entire directory lists for
        ``rows``' content.  Untouched partitions re-link (no byte of
        them is read or written); a named partition with no rows in
        ``rows`` is REMOVED (its key drops from the manifest, and
        ``changes()`` reports its old rows as deletes).  Rows falling
        outside the named partitions are refused — the guard that makes
        the operation safe to compose (an incremental-refresh caller
        proves it only touches what it planned to touch).  Cost:
        O(|rows| write + |partitions| manifest), never O(table)."""
        man = self._manifest()
        pcols = self._pcols_of(man)
        expected = T._parse_datatype_string(man["schema"])
        if [(f.name, f.dataType) for f in expected.fields] != \
                [(f.name, f.dataType) for f in rows.schema.fields]:
            raise DatabaseException(
                f"overwrite_partitions into '{self.root}': schema "
                f"mismatch; table has {expected.simpleString()}, rows "
                f"have {rows.schema.simpleString()}")
        parts = {k: list(v) for k, v in man["parts"].items()}
        # mistyped scalars (5.0 naming a long partition) coerce via the
        # JVM's own cast — the same rule read_point applies — instead
        # of silently producing an unmatchable key ('5.0' vs staged
        # '5') that would then misreport healthy rows as strays; all
        # mismatched components batch into ONE 1-row evaluation
        from cs186_query_optimization_project_spark import xxh64
        ptypes = [expected[c].dataType for c in pcols]
        tups = []
        mism: list[tuple[list, int, object, T.DataType]] = []
        for v in partition_values:
            tup = list(v) if isinstance(v, (tuple, list)) else [v]
            if len(tup) == len(pcols):
                for i, (x, dt) in enumerate(zip(tup, ptypes)):
                    if x is not None and not xxh64.native_match(x, dt):
                        mism.append((tup, i, x, dt))
            tups.append(tup)
        if mism:
            row = self.spark.range(1).select(*[
                F.lit(x).try_cast(dt).alias(f"__v{j}")
                for j, (_, _, x, dt) in enumerate(mism)]).collect()[0]
            for j, (tup, i, x, dt) in enumerate(mism):
                c = row[f"__v{j}"]
                if c is None:
                    raise DatabaseException(
                        f"overwrite_partitions into '{self.root}': "
                        f"mistyped partition value {x!r} is not "
                        f"castable to partition column type "
                        f"{dt.simpleString()}")
                tup[i] = c
        wanted = {self._ckey(tup, pcols) for tup in tups}
        for key in wanted:
            parts.pop(key, None)
        # both replaceWhere guards (NULL partition values, rows
        # straying outside the named partitions) are driver-side
        # checks on the STAGED key set inside _write_partitions — the
        # old shape paid one full aggregation job over the input per
        # overwrite before the write
        for key, ds in self._write_partitions(
                rows, pcols, allowed_keys=wanted,
                op="overwrite_partitions",
                enforce=man.get("constraints", {})).items():
            parts[key] = ds
        self._commit(man["version"] + 1, pcols,
                     T._parse_datatype_string(man["schema"]), parts,
                     man.get("txns", {}),
                     man.get("tombstones", {}), op="OVERWRITE")
        return self

    def delete(self, condition) -> "PartitionedTable":
        """SQL DELETE semantics (NULL condition keeps the row, like
        ``Database.delete_rows``), rewriting only partitions that own a
        matching row; each touched partition's dir-list collapses to
        one directory (incremental compaction for free)."""
        man = self._manifest()
        pcols = self._pcols_of(man)
        parts = {k: list(v) for k, v in man["parts"].items()}
        touched = self._touched(self.read(), condition, pcols)
        if touched:
            # ONE job rewrites every touched partition's survivors; a
            # partition whose rows all matched writes nothing and maps
            # to an empty dir-list
            survivors = (self.read(partition_values=touched)
                         .filter(~condition | condition.isNull()))
            new_parts = self._write_partitions(survivors, pcols)
            for v in touched:
                parts[self._ckey(v, pcols)] = new_parts.get(
                    self._ckey(v, pcols), [])
        self._commit(man["version"] + 1, pcols,
                     T._parse_datatype_string(man["schema"]), parts,
                     man.get("txns", {}),
                     man.get("tombstones", {}), op="DELETE")
        return self

    def delete_soft(self, condition_sql: str,
                    masked_counts="scan") -> "PartitionedTable":
        """Deletion-vector-style soft delete (Delta DVs re-expressed as
        per-directory tombstone predicates): instead of rewriting the
        touched partitions, record the SQL condition against every
        CURRENT directory and publish — O(1) data movement however
        large the partitions, the right shape when a few rows die
        inside multi-GB partitions.  Reads apply ``NOT(cond)`` (with
        SQL DELETE null semantics) per tombstoned directory, a map-only
        filter.  Tombstones bind to directories, so rows appended AFTER
        the soft delete are never affected.  A later hard ``delete`` /
        ``update`` / ``merge`` / ``optimize`` of a partition
        MATERIALIZES its tombstones (the rewrite reads through them)
        and clears them.  The condition must be a deterministic SQL
        boolean over the table's columns — it is validated by planning
        it against the current schema before publish.

        Consecutive same-column IN-list tombstones COALESCE at publish
        (one predicate per directory, union of values — see
        ``_coalesce_tombstone``), so the high-churn shape this path
        serves (many small right-to-be-forgotten batches between
        optimizes) costs one read-time filter and one manifest entry,
        not one per batch; an exact re-record (crash retry) leaves the
        list byte-identical.  Accumulated debt is visible per
        directory through :meth:`skipping_report` (``tombstones`` /
        ``masked_rows`` / ``masked_fraction`` columns) and
        :meth:`tombstone_debt` — the signal for when to ``optimize``.

        ``masked_counts`` picks how the deletion-vector CARDINALITY
        (what keeps metadata-only COUNT answerable under soft deletes)
        is obtained:

        - ``"scan"`` (default): ONE map-only aggregate over the
          currently-visible rows counts the newly-masked rows per
          directory — exact, idempotent (existing tombstones applied,
          so nothing double-counts), but O(table) compute per call.
        - ``None``: record NO cardinality — zero Spark jobs; every
          directory whose tombstone list actually changed FAILS CLOSED
          (metadata-only COUNT declines for it until a rewrite).  The
          truly-O(1) mode for callers that never metadata-COUNT the
          table.
        - ``{partition_value: n}``: CALLER-SUPPLIED newly-masked
          visible-row counts per partition value (scalar, or tuple for
          multi-column layouts; a missing key asserts zero newly-masked
          rows in that partition) — zero Spark jobs beyond whatever
          aggregate the caller already ran.  ``n`` is either an int
          (partition-level claim: exact only when the partition holds
          ONE directory; over several, the per-dir split is unknowable
          and the partition's CHANGED directories fail closed) or a
          ``{directory: n}`` dict (per-DIRECTORY claims — exact
          however many directories the partition holds; keys are the
          manifest directory names, which :meth:`file_directories`
          recovers from an aggregate grouped by
          ``input_file_name()``).  Directories whose tombstone list
          did not change (no-op retry / re-delete) keep their exact
          counts regardless of the claim — the caller's aggregate
          legitimately re-counts doomed rows when retrying from a
          pinned snapshot."""
        man = self._manifest()
        pcols = self._pcols_of(man)
        schema = T._parse_datatype_string(man["schema"])
        # fail-fast validation: the predicate must plan over the
        # schema, and must mean the same thing under the grammar it
        # is stored in (a legacy-grammar session would record text
        # whose stored meaning silently diverges — refuse)
        _assert_default_literal_grammar(
            self.spark, condition_sql, f"delete_soft '{self.root}'")
        try:
            self.spark.createDataFrame([], schema).filter(
                F.expr(condition_sql)).schema
        except Exception as exc:
            raise DatabaseException(
                f"delete_soft '{self.root}': condition "
                f"{condition_sql!r} does not plan against "
                f"{schema.simpleString()}: {exc}") from None
        parts = {k: list(v) for k, v in man["parts"].items()}
        tombs = {d: list(ts)
                 for d, ts in man.get("tombstones", {}).items()}
        all_dirs = [d for ds in parts.values() for d in ds]
        cur_counts = dict(man.get("tomb_counts", {}))
        # Record/coalesce the condition FIRST: claim attribution below
        # needs to know which directories' tombstone lists actually
        # changed (an unchanged list masks nothing new).
        changed_dirs: set[str] = set()
        for ds in parts.values():
            for d in ds:
                tombs[d], changed = _coalesce_tombstone(
                    tombs.get(d, []), condition_sql)
                if changed:
                    changed_dirs.add(d)
        inc: dict[str, int] = {}
        poisoned_dirs: set[str] = set()
        if masked_counts == "scan":
            # Exact per-directory cardinality from ONE map-only
            # aggregate over the currently-visible rows.  A directory
            # whose PRE-EXISTING tombstones have no recorded count
            # (legacy manifest) stays count-less — fail closed rather
            # than undercount.  Grouping by (file, partition value)
            # lets an unmappable input_file_name (relative table root,
            # exotic URI encoding) poison ONLY its own partition's
            # directories: those dirs lose their cardinality (fail
            # closed, metadata-only COUNT declines for them), every
            # other dir keeps exact counts — never the old
            # wipe-the-whole-map behavior, which irreversibly lost all
            # previously recorded cardinalities on one bad path.
            poisoned_keys: set[str] = set()
            hit = (self._scan(all_dirs, schema,
                              man.get("tombstones", {}))
                   .filter(F.expr(condition_sql))
                   .groupBy(F.input_file_name().alias("__f"),
                            *[F.col(c).alias(f"__p{i}")
                              for i, c in enumerate(pcols)]).count()
                   .collect())
            known = set(all_dirs)
            for r in hit:
                d = self._file_dir(r["__f"], known)
                if d is None:
                    try:
                        k = self._ckey(tuple(r[f"__p{i}"] for i in
                                             range(len(pcols))),
                                       pcols)
                    except DatabaseException:
                        k = "*"
                    poisoned_keys.add(k if k in parts else "*")
                    continue
                inc[d] = inc.get(d, 0) + r["count"]
            # Unattributable rows can only live in directories whose
            # tombstone list actually changed: an UNCHANGED directory
            # already masks every row this condition matches, so its
            # visible matching count is zero and its recorded
            # cardinality stays valid — never poison it.
            if "*" in poisoned_keys:  # partition unresolvable too:
                poisoned_dirs = set(all_dirs) & changed_dirs
            else:
                poisoned_dirs = {d for k in poisoned_keys
                                 for d in parts.get(k, [])} \
                    & changed_dirs
        elif isinstance(masked_counts, dict):
            for v, n in masked_counts.items():
                k = self._ckey(v, pcols)
                ds = parts.get(k)
                if ds is None:
                    raise DatabaseException(
                        f"delete_soft '{self.root}': masked-count "
                        f"key {v!r} names no current partition")
                if isinstance(n, dict):
                    # per-DIRECTORY claims: exact attribution however
                    # many directories the partition holds (the
                    # append-then-soft-delete shape) — keys are the
                    # manifest's directory names for this partition
                    # (map input_file_name() through
                    # :meth:`file_directories` to get them)
                    for d, m in n.items():
                        if not isinstance(m, int) or m < 0:
                            raise DatabaseException(
                                f"delete_soft '{self.root}': "
                                f"per-directory masked count for "
                                f"{v!r}/{d!r} must be a non-negative "
                                f"int, got {m!r}")
                        if d not in ds:
                            raise DatabaseException(
                                f"delete_soft '{self.root}': "
                                f"per-directory masked-count key "
                                f"{d!r} names no current directory "
                                f"of partition {v!r}")
                        if m:
                            inc[d] = inc.get(d, 0) + m
                    continue
                if not isinstance(n, int) or n < 0:
                    raise DatabaseException(
                        f"delete_soft '{self.root}': masked count "
                        f"for {v!r} must be a non-negative int or a "
                        f"per-directory dict, got {n!r}")
                if not n:
                    continue
                if len(ds) == 1:
                    inc[ds[0]] = inc.get(ds[0], 0) + n
                else:
                    # nonzero partition-level claim over several
                    # directories: the per-dir split is unknowable —
                    # fail closed, but ONLY for directories whose
                    # tombstone list actually changed.  An unchanged
                    # directory masks nothing new, so a
                    # pinned-snapshot retry against a partition that
                    # has since grown a second directory keeps the
                    # old directory's exact cardinality.
                    poisoned_dirs.update(set(ds) & changed_dirs)
        elif masked_counts is not None:
            raise DatabaseException(
                f"delete_soft '{self.root}': masked_counts must be "
                f"'scan', None, or a dict of partition-value counts, "
                f"got {masked_counts!r}")
        # A directory whose tombstone list did NOT change masks nothing
        # new — drop any claimed/scanned increment for it.  This is
        # what makes a crash RETRY exact in dict mode: the caller's
        # aggregate legitimately re-counts the doomed rows from its
        # pinned snapshot, but the already-recorded tombstone proves
        # they were counted once.  (Scan mode is already 0 there —
        # visible rows exclude them — so this is a no-op for it.)
        inc = {d: n for d, n in inc.items() if d in changed_dirs}
        new_counts: dict[str, int] = {}
        for d in all_dirs:
            if d in poisoned_dirs:
                continue  # unattributable masked rows: drop THIS
                # dir's count only (fail closed locally)
            if man.get("tombstones", {}).get(d) and \
                    not isinstance(cur_counts.get(d), int):
                continue  # PRE-EXISTING tombstones of unknown
                # cardinality (legacy manifest / earlier None-mode):
                # unknown stays unknown
            if masked_counts is None and d in changed_dirs:
                continue  # cardinality declared unknown: fail closed
            new_counts[d] = cur_counts.get(d, 0) + inc.get(d, 0)
        self._commit(man["version"] + 1, pcols, schema, parts,
                     man.get("txns", {}), tombs,
                     tomb_counts=new_counts, op="DELETE (soft)")
        return self

    def update(self, condition, assignments: dict) -> "PartitionedTable":
        """UPDATE over touched partitions only.  Assignments to the
        partition column are refused — a value change would MOVE rows
        between partitions (Hive's classic restriction; Delta pays a
        two-partition rewrite for it; delete+insert expresses a move
        here explicitly)."""
        from cs186_query_optimization_project_spark.transactions import (
            make_update_applier,
        )

        man = self._manifest()
        pcols = self._pcols_of(man)
        for c in pcols:
            if c in assignments:
                raise DatabaseException(
                    f"update '{self.root}': assigning the partition "
                    f"column '{c}' would move rows between "
                    f"partitions; express a move as delete + insert")
        schema = T._parse_datatype_string(man["schema"])
        for col_name in assignments:
            if col_name not in schema.fieldNames():
                raise DatabaseException(
                    f"update '{self.root}': unknown column "
                    f"'{col_name}'")
        parts = {k: list(v) for k, v in man["parts"].items()}
        touched = self._touched(self.read(), condition, pcols)
        if touched:
            rewritten = make_update_applier(condition, assignments)(
                self.read(partition_values=touched))
            new_parts = self._write_partitions(
                rewritten, pcols, op="update",
                enforce=man.get("constraints", {}))
            for v in touched:
                parts[self._ckey(v, pcols)] = new_parts.get(
                    self._ckey(v, pcols), [])
        self._commit(man["version"] + 1, pcols, schema, parts,
                     man.get("txns", {}),
                     man.get("tombstones", {}), op="UPDATE")
        return self

    def merge(self, source: DataFrame,
              on: str | tuple[str, ...]) -> "PartitionedTable":
        """MERGE upsert at partition granularity (the ``Database
        .merge_rows`` analog): matched target rows take the source's
        values, unmatched source rows append.  Touched partitions are
        those owning a MATCHED TARGET row (the key match decides where
        the rewrite happens — a source row may update a target row
        living in a different partition than the source row's own
        value, as long as the update doesn't move it); unmatched source
        rows land as appended directories in their own partitions.  Two
        |partitions|-bounded distincts plan the statement; two jobs
        execute it."""
        keys = [on] if isinstance(on, str) else list(on)
        man = self._manifest()
        pcols = self._pcols_of(man)
        schema = T._parse_datatype_string(man["schema"])
        expected = [(f.name, f.dataType) for f in schema.fields]
        got = [(f.name, f.dataType) for f in source.schema.fields]
        if expected != got:
            raise DatabaseException(
                f"merge into '{self.root}': schema mismatch; table has "
                f"{expected}, source has {got}")
        for k in keys:
            if k not in schema.fieldNames():
                raise DatabaseException(
                    f"merge into '{self.root}': unknown key column "
                    f"'{k}'")
        # materialize the source once: the dup-key check, the moved-row
        # guard, the matched rewrite and the insert anti-join all read
        # it, and without the checkpoint each would re-execute the
        # caller's source plan (Delta merge materializes its source for
        # the same reason).  The dup check is one aggregation — row
        # count vs distinct key-struct count (struct, so NULL keys
        # group as equal exactly like the old groupBy shape) — instead
        # of a groupBy + take(1) probe whose empty healthy path
        # escalates through full-scan job retries.
        source = source.localCheckpoint()
        dup = source.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.struct(*[F.col(k) for k in keys]))
            .alias("d")).first()
        if dup["n"] != dup["d"]:
            raise DatabaseException(
                f"merge into '{self.root}': source has duplicate keys "
                f"on {keys}")
        cur = self.read()
        # ONE bounded job plans the statement: the matched target rows'
        # partitions (the rewrite set) AND the moved-row guard (a
        # matched row must not change partition value — same
        # restriction as update()) come out of a single
        # target⋈source join + per-partition aggregate.  The dup check
        # above guarantees unique source keys, so the inner join keeps
        # exactly the semi-join's target rows.  The guard flag uses
        # the same non-null-safe != the old filter used (a NULL
        # comparison contributes nothing to max()).
        loose = [c for c in pcols if c not in keys]
        s_pref = source.select(
            *[F.col(k) for k in keys],
            *[F.col(c).alias(f"__s_{c}") for c in loose])
        moved_flag = F.lit(False)
        for c in loose:
            moved_flag = moved_flag | (F.col(c) != F.col(f"__s_{c}"))
        touched_rows = (cur.join(s_pref, keys, "inner")
                        .groupBy(*pcols)
                        .agg(F.max(moved_flag).alias("__moved"))
                        .collect())
        if any(r["__moved"] for r in touched_rows):
            raise DatabaseException(
                f"merge into '{self.root}': a matched source row "
                f"changes a partition column ({loose}) — express "
                f"a move as delete + insert")
        touched = [r[0] for r in touched_rows] if len(pcols) == 1 \
            else [tuple(r[:len(pcols)]) for r in touched_rows]
        parts = {k: list(v) for k, v in man["parts"].items()}
        upd_cols = [c for c in schema.fieldNames() if c not in keys]
        # ONE staged write executes the statement: the touched-
        # partition rewrite and the unmatched-source inserts union into
        # a single job (previously two _write_partitions jobs — two
        # staged writes, two commit floors).  Staged keys that were
        # touched REPLACE their partition's directory list (the rewrite
        # kept every surviving row of that partition, and any inserts
        # into it rode the same staged directory); all other staged
        # keys append, exactly as the old insert write did.
        payload = source.join(cur.select(*keys), keys, "left_anti")
        if touched:
            src = source.select(
                *[F.col(k).alias(f"__mk_{k}") for k in keys],
                *[F.col(c).alias(f"__mv_{c}") for c in upd_cols],
                F.lit(True).alias("__matched"))
            cond = None
            for k in keys:
                eq = F.col(k) == F.col(f"__mk_{k}")
                cond = eq if cond is None else (cond & eq)
            rewritten = (self.read(partition_values=touched)
                         .join(src, cond, "left_outer")
                         .select(*[
                             (F.when(F.col("__matched").isNotNull(),
                                     F.col(f"__mv_{c}"))
                              .otherwise(F.col(c)).alias(c)
                              if c in upd_cols else F.col(c))
                             for c in schema.fieldNames()]))
            payload = rewritten.unionByName(payload)
        staged = self._write_partitions(
            payload, pcols, op="merge",
            enforce=man.get("constraints", {}))
        replaced = {self._ckey(v, pcols) for v in touched}
        for key in replaced:
            parts[key] = list(staged.get(key, []))
        for key, ds in staged.items():
            if key not in replaced:
                parts.setdefault(key, []).extend(ds)
        self._commit(man["version"] + 1, pcols, schema, parts,
                     man.get("txns", {}),
                     man.get("tombstones", {}), op="MERGE")
        return self

    # ------------------------------------------------------------------ #
    # CHECK constraints (Delta ``ALTER TABLE ... ADD CONSTRAINT``) —
    # table policy enforced on every row-producing commit
    # ------------------------------------------------------------------ #
    def constraints(self) -> dict[str, str]:
        return dict(self._manifest().get("constraints", {}))

    def add_constraint(self, name: str,
                       expr_sql: str) -> "PartitionedTable":
        """Register a CHECK constraint: first validate EXISTING rows
        (one violation-count scan; SQL CHECK semantics — only rows
        where the expression is FALSE violate, NULL/unknown passes),
        then publish a metadata-only commit recording it.  Every later
        insert / update / merge / idempotent_append batch is validated
        against the registered set before its commit."""
        man = self._manifest()
        cons = dict(man.get("constraints", {}))
        if name in cons:
            raise DatabaseException(
                f"constraint '{name}' already exists on '{self.root}' "
                f"(drop it first to redefine)")
        e = F.expr(expr_sql)
        bad = (self.read().select(
            F.coalesce(F.sum((e == F.lit(False)).cast("bigint")),
                       F.lit(0)).alias("__bad")).collect()[0]["__bad"])
        if bad:
            raise DatabaseException(
                f"cannot add constraint '{name}' ({expr_sql}): {bad} "
                f"existing rows violate it")
        cons[name] = expr_sql
        self._commit(man["version"] + 1, self._pcols_of(man),
                     T._parse_datatype_string(man["schema"]),
                     man["parts"], man.get("txns", {}),
                     man.get("tombstones", {}), constraints=cons,
                     op="ADD CONSTRAINT")
        return self

    def drop_constraint(self, name: str) -> "PartitionedTable":
        man = self._manifest()
        cons = dict(man.get("constraints", {}))
        if name not in cons:
            raise DatabaseException(
                f"no constraint '{name}' on '{self.root}'; defined: "
                f"{sorted(cons)}")
        del cons[name]
        self._commit(man["version"] + 1, self._pcols_of(man),
                     T._parse_datatype_string(man["schema"]),
                     man["parts"], man.get("txns", {}),
                     man.get("tombstones", {}), constraints=cons,
                     op="DROP CONSTRAINT")
        return self

    def changes(self, from_version: int,
                to_version: int | None = None) -> DataFrame:
        """Change data feed (Delta CDF's ``table_changes``): rows that
        differ between two retained versions, annotated with
        ``_change_type`` ('insert' | 'delete') and ``_commit_version``
        (the version that introduced the change).  An update surfaces
        as its delete+insert pair, like CDF without the pre/post-image
        labels.

        Cost tracks CHURN, not table size: each version step is diffed
        manifest-to-manifest —

        - a partition whose directory list only GREW (append commit)
          contributes the new directories' rows as inserts, scanning
          nothing else;
        - new tombstones on a directory contribute the newly-matching
          rows as deletes, a pruned scan of the bound directories only;
        - a REWRITTEN partition (dir set replaced) diffs old vs new via
          two ``exceptAll``s over just that partition.

        Untouched partitions are never read.  Consumers drive
        incremental pipelines from this instead of re-diffing a 100 TB
        table."""
        vs = self.versions()
        if to_version is None:
            to_version = vs[-1]
        for v in (from_version, to_version):
            if v not in vs:
                raise DatabaseException(
                    f"changes({from_version}, {to_version}): version "
                    f"{v} is not retained; retained: {vs}")
        if from_version > to_version:
            raise DatabaseException(
                f"changes: from_version {from_version} > to_version "
                f"{to_version}")
        steps = [v for v in vs if from_version < v <= to_version]
        out_parts: list[DataFrame] = []
        prev = self._manifest(from_version)
        for v in steps:
            n_before = len(out_parts)
            cur = self._manifest(v)
            if str(cur.get("op", "")).startswith("REPARTITION"):
                # layout-only rewrite: visible content is identical by
                # construction (Delta dataChange=false) — emitting the
                # key-set diff would report a spurious full
                # delete+insert to every incremental consumer
                prev = cur
                continue
            schema = T._parse_datatype_string(cur["schema"])
            old_tombs = prev.get("tombstones", {})
            new_tombs = cur.get("tombstones", {})
            for key, new_ds in cur["parts"].items():
                old_ds = prev["parts"].get(key, [])
                if new_ds[:len(old_ds)] == old_ds:
                    # append-only step for this partition
                    added = new_ds[len(old_ds):]
                    if added:
                        out_parts.append(
                            self._scan(added, schema, new_tombs)
                            .withColumn("_change_type", F.lit("insert")))
                    for d in old_ds:
                        fresh = [c for c in new_tombs.get(d, [])
                                 if c not in old_tombs.get(d, [])]
                        if fresh:
                            # rows newly matching a tombstone = deletes
                            hit = self._scan([d], schema, old_tombs)
                            cond = None
                            for c in fresh:
                                e = F.expr(c)
                                cond = e if cond is None else (cond | e)
                            out_parts.append(
                                hit.filter(cond)
                                .withColumn("_change_type",
                                            F.lit("delete")))
                else:
                    old_df = self._scan(old_ds,
                                        T._parse_datatype_string(
                                            prev["schema"]), old_tombs)
                    for f in schema.fields:
                        if f.name not in old_df.columns:
                            old_df = old_df.withColumn(
                                f.name, F.lit(None).cast(f.dataType))
                    old_df = old_df.select(*schema.fieldNames())
                    new_df = self._scan(new_ds, schema, new_tombs)
                    out_parts.append(
                        new_df.exceptAll(old_df)
                        .withColumn("_change_type", F.lit("insert")))
                    out_parts.append(
                        old_df.exceptAll(new_df)
                        .withColumn("_change_type", F.lit("delete")))
            for key, old_ds in prev["parts"].items():
                if key not in cur["parts"] and old_ds:
                    out_parts.append(
                        self._scan(old_ds, T._parse_datatype_string(
                            prev["schema"]), old_tombs)
                        .withColumn("_change_type", F.lit("delete")))
            # stamp only THIS step's parts (earlier steps are already
            # stamped) — a full re-scan of the accumulated list per
            # step would make long version-range reads O(steps²)
            for i in range(n_before, len(out_parts)):
                out_parts[i] = out_parts[i].withColumn(
                    "_commit_version", F.lit(v).cast("bigint"))
            prev = cur
        final_schema = T._parse_datatype_string(
            self._manifest(to_version)["schema"])
        if not out_parts:
            empty = self.spark.createDataFrame([], final_schema)
            return (empty
                    .withColumn("_change_type", F.lit(""))
                    .withColumn("_commit_version",
                                F.lit(0).cast("bigint")).limit(0))
        # reconcile pre-evolution steps to the final schema
        aligned = []
        for df in out_parts:
            for f in final_schema.fields:
                if f.name not in df.columns:
                    df = df.select(*df.columns[:-2],
                                   F.lit(None).cast(f.dataType)
                                   .alias(f.name),
                                   "_change_type", "_commit_version")
            aligned.append(df.select(*final_schema.fieldNames(),
                                     "_change_type", "_commit_version"))
        out = aligned[0]
        for df in aligned[1:]:
            out = out.unionByName(df)
        return out

    def consume_changes(self, cursor_path: str,
                        initial: str = "latest"):
        """Incremental CDF consumption with a durable cursor: returns
        ``(changes_df, ack)`` where the frame holds every change after
        the cursor's version up to the current version, and calling
        ``ack()`` (atomically, write-then-rename) advances the cursor
        — at-least-once delivery: a consumer that crashes before
        acking re-reads the same span, one that acks after durably
        processing gets each change exactly once.  A missing cursor
        starts at the current version (``initial='latest'``, Delta's
        default) or the oldest retained one (``'earliest'``)."""
        vs = self.versions()
        current = vs[-1]
        try:
            start = int(json.loads(
                metaio.IO.read_text(cursor_path))["version"])
        except OSError:
            if initial not in ("latest", "earliest"):
                raise DatabaseException(
                    f"consume_changes: initial must be 'latest' or "
                    f"'earliest', got {initial!r}")
            start = current if initial == "latest" else vs[0]
        if start not in vs:
            raise DatabaseException(
                f"consume_changes: cursor version {start} is no longer "
                f"retained (vacuumed past the consumer); retained: "
                f"{vs} — reset the cursor or raise vacuum retention")
        feed = self.changes(start, current)

        def ack() -> int:
            metaio.IO.replace_text(cursor_path,
                                   json.dumps({"version": current}))
            return current

        return feed, ack

    # ------------------------------------------------------------------ #
    # streaming sink — exactly-once micro-batch appends
    # ------------------------------------------------------------------ #
    def idempotent_append(self, rows: DataFrame, sink_id: str,
                          batch_id: int) -> bool:
        """Exactly-once append for streaming micro-batches (Delta's
        ``txn`` action re-expressed on manifests): the manifest records
        the highest committed ``batch_id`` per ``sink_id``, and a
        replayed batch (``<=`` the recorded watermark) is a NO-OP — so
        a foreachBatch retry after a mid-commit failure cannot
        double-append.  The dedup check and the append commit
        atomically together (both live in the same manifest file), so
        there is no window where data landed but the watermark didn't.
        On a commit race the append retries once on the fresh manifest,
        re-checking the watermark (the loser's staged directories stay
        unreferenced until vacuum).  Returns True if this call
        committed the batch, False if it was a dedup no-op."""
        for attempt in (0, 1):
            man = self._manifest()
            done = man.get("txns", {}).get(sink_id)
            if done is not None and batch_id <= done:
                return False
            pcols = self._pcols_of(man)
            expected = T._parse_datatype_string(man["schema"])
            if [(f.name, f.dataType) for f in expected.fields] != \
                    [(f.name, f.dataType) for f in rows.schema.fields]:
                raise DatabaseException(
                    f"append into '{self.root}': schema mismatch; "
                    f"table has {expected.simpleString()}, batch has "
                    f"{rows.schema.simpleString()}")
            parts = {k: list(v) for k, v in man["parts"].items()}
            # NULL-partition and CHECK-constraint guards ride the
            # write job inside _write_partitions — no pre-write jobs
            for key, ds in self._write_partitions(
                    rows, pcols, op="append",
                    enforce=man.get("constraints", {})).items():
                parts.setdefault(key, []).extend(ds)
            txns = dict(man.get("txns", {}))
            txns[sink_id] = batch_id
            try:
                self._commit(man["version"] + 1, pcols, expected, parts,
                             txns, man.get("tombstones", {}),
                             op="STREAMING APPEND")
                return True
            except ConflictException:
                if attempt:
                    raise
        raise AssertionError("unreachable")  # pragma: no cover

    def foreach_batch_sink(self, sink_id: str):
        """A ``writeStream.foreachBatch`` callable appending every
        micro-batch exactly once::

            (stream_df.writeStream
             .option("checkpointLocation", ckpt)
             .foreachBatch(pt.foreach_batch_sink("events_ingest"))
             .trigger(availableNow=True).start())

        The checkpoint makes Spark replay at-least-once after failures;
        ``idempotent_append``'s manifest watermark turns that into
        exactly-once, the same contract Delta's streaming sink
        documents."""
        def sink(batch_df: DataFrame, batch_id: int) -> None:
            self.idempotent_append(batch_df, sink_id, int(batch_id))
        return sink

    # ------------------------------------------------------------------ #
    # maintenance
    # ------------------------------------------------------------------ #
    def repartition_table(self, partition_cols) -> "PartitionedTable":
        """PARTITION-LAYOUT EVOLUTION in one versioned commit: rewrite
        the current visible content under a NEW partition column list
        (single↔multi, reorder, different columns) and publish a
        manifest carrying the new ``partition_cols``.  Because every
        manifest stores ITS OWN column list, time travel across the
        boundary reads each version under its own layout, and every
        partition-aware read after the commit prunes on the new one —
        Delta requires dropping and recreating the table for this;
        here the version history survives.

        Cost is O(table) data movement by definition — that is what a
        layout change is; the point is the COMMIT is still atomic and
        the old layout stays readable.  Visible content is identical
        by construction (the rewrite reads through tombstones, which
        were already reported as deletes when they committed), so the
        commit is tagged ``REPARTITION`` and :meth:`changes` treats it
        as data-unchanged (Delta's ``dataChange=false``): downstream
        incremental consumers and materialized views see zero churn
        instead of a spurious full delete+insert."""
        pcols = [partition_cols] if isinstance(partition_cols, str) \
            else list(partition_cols)
        man = self._manifest()
        schema = T._parse_datatype_string(man["schema"])
        if not pcols or len(set(pcols)) != len(pcols):
            raise DatabaseException(
                f"repartition_table '{self.root}': partition columns "
                f"{pcols} must be non-empty and distinct")
        for c in pcols:
            if c not in schema.fieldNames():
                raise DatabaseException(
                    f"repartition_table '{self.root}': no column "
                    f"'{c}' in {schema.fieldNames()}")
            if not isinstance(schema[c].dataType, _KEYABLE):
                raise DatabaseException(
                    f"repartition_table '{self.root}': column '{c}' "
                    f"has type {schema[c].dataType}; only string/"
                    f"integral/boolean/date columns partition")
        df = self.read()  # current version, tombstones applied
        # NULLs in a NEW partition column are caught from the staged
        # layout inside _write_partitions — the old take(1) probe was
        # a full extra table pass when no row matched
        parts = self._write_partitions(df, pcols,
                                       op="repartition_table")
        self._commit(man["version"] + 1, pcols, schema, parts,
                     man.get("txns", {}),
                     op=f"REPARTITION ({', '.join(pcols)})")
        return self

    def optimize(self, target_file_bytes: int = 128 << 20,
                 sort_by: tuple[str, ...] = (),
                 zorder_by: tuple[str, str] | None = None) -> list[str]:
        """Delta OPTIMIZE at partition granularity: compact every
        partition whose directory list grew past one (append
        accretion) or whose file count exceeds its size-targeted
        budget, into ONE fresh directory each — published as a new
        version whose untouched partitions share directories as usual.
        ``sort_by`` re-clusters while compacting (OPTIMIZE ... ZORDER's
        1-D analog; pushed range filters then skip row groups inside
        the compacted files, complementing the directory-level
        ``read_where`` skipping).  ``zorder_by`` instead clusters on
        the Morton interleave of TWO numeric columns (OPTIMIZE ...
        ZORDER BY proper, via ``sources.writers._interleave_bits``) so
        row-group stats stay narrow on both at once.  One
        ``repartitionByRange`` job over the touched partitions only;
        sizing uses real on-disk bytes like
        ``sources.writers.compact_table`` (its docstring carries the
        small-files-at-100TB argument).  Returns the compacted
        partition keys; a no-op publishes nothing."""
        import math

        if zorder_by and sort_by:
            raise DatabaseException(
                "optimize: sort_by and zorder_by are exclusive — one "
                "clustering order per rewrite")

        man = self._manifest()
        pcols = self._pcols_of(man)
        parts = {k: list(v) for k, v in man["parts"].items()}

        def usage(ds):
            total = count = 0
            for d in ds:
                for f in metaio.IO.list_dir(d):
                    if f.endswith(".parquet"):
                        # through the seam (HEAD on object stores) —
                        # this sizing walk must work wherever the
                        # manifests live, not only on POSIX
                        total += metaio.IO.file_size(
                            os.path.join(d, f))
                        count += 1
            return total, count

        tombs = man.get("tombstones", {})
        touched = []
        touched_bytes = 0
        for k, ds in parts.items():
            total, count = usage(ds)
            budget = max(1, math.ceil(total / target_file_bytes))
            # tombstoned dirs compact too: the rewrite reads through
            # the soft deletes and the new dir starts clean
            if len(ds) > 1 or count > budget or \
                    any(d in tombs for d in ds):
                touched.append(k)
                touched_bytes += total
        if not touched:
            return []
        n_out = max(1, math.ceil(touched_bytes / target_file_bytes))
        # touched holds manifest KEY strings; on hierarchical tables
        # re-split them into full tuples for exact (non-prefix) match
        df = self.read(partition_values=(
            touched if len(pcols) == 1
            else [tuple(k.split("/")) for k in touched]))
        if zorder_by:
            from cs186_query_optimization_project_spark.sources.writers \
                import _interleave_bits

            c0, c1 = zorder_by
            row = df.agg(F.min(c0).alias("min0"), F.max(c0).alias("max0"),
                         F.min(c1).alias("min1"),
                         F.max(c1).alias("max1")).first()
            if row["min0"] is None or row["min1"] is None:
                shaped = df  # empty/all-NULL: nothing to interleave
            else:
                bits = 8
                top = (1 << bits) - 1
                span0 = (row["max0"] - row["min0"]) or 1
                span1 = (row["max1"] - row["min1"]) or 1
                z = _interleave_bits(
                    ((F.col(c0) - F.lit(row["min0"])) * top
                     / F.lit(span0)).cast("long"),
                    ((F.col(c1) - F.lit(row["min1"])) * top
                     / F.lit(span1)).cast("long"), bits)
                shaped = (df.withColumn("__z", z)
                          .repartitionByRange(
                              n_out, *[F.col(c) for c in pcols],
                              F.col("__z"))
                          .sortWithinPartitions(*pcols, "__z")
                          .drop("__z"))
        else:
            cols = [*pcols, *sort_by]
            shaped = (df.repartitionByRange(n_out,
                                            *[F.col(c) for c in cols])
                      .sortWithinPartitions(*cols))
        new_parts = self._write_partitions(shaped, pcols)
        for k in touched:
            parts[k] = new_parts.get(k, [])
        self._commit(man["version"] + 1, pcols,
                     T._parse_datatype_string(man["schema"]), parts,
                     man.get("txns", {}),
                     man.get("tombstones", {}), op="OPTIMIZE")
        return sorted(touched)

    def optimize_if(self, max_tombstones: int | None = None,
                    max_masked_fraction: float | None = None,
                    target_file_bytes: int = 128 << 20,
                    sort_by: tuple[str, ...] = (),
                    zorder_by: tuple[str, str] | None = None,
                    ) -> list[str]:
        """Debt-driven :meth:`optimize` — the policy loop that turns
        :meth:`tombstone_debt` from observable into self-managing:
        materialize soft-delete tombstones only once SOME directory's
        accumulated debt crosses a threshold.  Below threshold the
        call is a pure driver-side metadata check (manifest + footer
        stats, ZERO Spark jobs — the same zero-job promise as the
        soft deletes it watches); at/over it, one :meth:`optimize`
        rewrite materializes and clears the debt.  This is the
        operational conclusion of the reference's missing-deletes
        story (``BPlusTree.java:130–133`` leaves ``deleteKey``
        unimplemented): deletes accrue O(1) as tombstones, and the
        rewrite is amortized against a caller-owned debt line.

        A directory trips the policy when it has live tombstones AND
        either its predicate count EXCEEDS ``max_tombstones`` (the
        read-time filter work per scan of that directory) or its
        masked-row fraction EXCEEDS ``max_masked_fraction`` (the
        wasted-scan fraction).  A masked fraction that is UNKNOWN
        (cardinality declined at soft-delete time — ``masked_counts=
        None`` or a fail-closed attribution) trips a configured
        ``max_masked_fraction`` immediately: unknown debt is treated
        as "optimize now", per :meth:`tombstone_debt`.  Returns
        :meth:`optimize`'s compacted keys, ``[]`` when below
        threshold.  At least one threshold is required — an
        unconditional rewrite is plain :meth:`optimize`."""
        if not self.tombstone_debt_exceeds(max_tombstones,
                                           max_masked_fraction):
            return []
        return self.optimize(target_file_bytes, sort_by=sort_by,
                             zorder_by=zorder_by)

    def tombstone_debt_exceeds(self, max_tombstones: int | None = None,
                               max_masked_fraction: float | None = None,
                               ) -> bool:
        """The threshold predicate behind :meth:`optimize_if` (shared
        with the index-layer policies, e.g. ``retrieval
        .postings_optimize_if``): True when SOME directory with live
        tombstones has a predicate count exceeding ``max_tombstones``
        or a masked-row fraction exceeding ``max_masked_fraction``
        (unknown fraction counts as exceeded).  Pure driver-side
        metadata, zero Spark jobs.  At least one threshold is
        required."""
        if max_tombstones is None and max_masked_fraction is None:
            raise DatabaseException(
                "tombstone debt policy: give max_tombstones and/or "
                "max_masked_fraction (an unconditional rewrite is "
                "optimize())")

        def over(row) -> bool:
            if not row["tombstones"]:
                return False
            if max_tombstones is not None and \
                    row["tombstones"] > max_tombstones:
                return True
            if max_masked_fraction is not None:
                frac = row["masked_fraction"]
                return frac is None or frac > max_masked_fraction
            return False

        return any(over(r) for r in self.tombstone_debt())

    def history(self) -> DataFrame:
        """Delta ``DESCRIBE HISTORY``: one row per retained version —
        (version, op, timestamp, n_partitions, n_dirs).  Driver work is
        O(retained versions); no data directory is opened.  Manifests
        from before the audit fields existed report op 'WRITE' and a
        NULL timestamp."""
        import datetime as _dt

        rows = []
        for v in self.versions():
            man = self._manifest(v)
            ts = man.get("ts")
            rows.append((
                v, man.get("op", "WRITE"),
                _dt.datetime.fromtimestamp(ts) if ts else None,
                len([k for k, ds in man["parts"].items() if ds]),
                sum(len(ds) for ds in man["parts"].values())))
        return local_rows_df(
            self.spark,
            rows, "version bigint, op string, ts timestamp, "
                  "n_partitions int, n_dirs int")

    def describe_detail(self, version: int | None = None) -> dict:
        """Delta ``DESCRIBE DETAIL``: one dict describing a version's
        physical shape — partition columns, partition/directory/file
        counts, total data bytes, row count when metadata alone knows
        it (``metadata_count``'s fail-closed contract: None under
        uncounted tombstones), declared Bloom columns and constraints,
        and the live-tombstone count.  File/byte figures come from the
        per-file stats sidecars where present and fall back to a
        listing of the directory (legacy stagings) — driver-side
        metadata either way, zero Spark jobs."""
        man = self._manifest(version)
        n_files = 0
        total_bytes = 0
        for ds in man["parts"].values():
            for d in ds:
                fstats = (self._staging_stats(os.path.dirname(d))
                          .get(os.path.basename(d), {})
                          .get("__files"))
                names = (sorted(fstats) if isinstance(fstats, dict)
                         and fstats else
                         [f for f in metaio.IO.list_dir(d)
                          if f.endswith(".parquet")])
                n_files += len(names)
                for f in names:
                    try:
                        total_bytes += metaio.IO.file_size(
                            os.path.join(d, f))
                    except (OSError, AttributeError):
                        pass  # size is advisory; absence ≠ failure
        return {
            "version": man["version"],
            "partition_cols": self._pcols_of(man),
            "n_partitions": len([k for k, ds in man["parts"].items()
                                 if ds]),
            "n_dirs": sum(len(ds) for ds in man["parts"].values()),
            "n_files": n_files,
            "total_bytes": total_bytes,
            "n_rows": self.metadata_count(version),
            "bloom_cols": list(man.get("bloom_cols", [])),
            "constraints": dict(man.get("constraints", {})),
            "n_tombstoned_dirs": len([d for d, ts in
                                      man.get("tombstones", {})
                                      .items() if ts]),
        }

    def version_at(self, ts: float) -> int:
        """Delta ``TIMESTAMP AS OF``: the newest retained version whose
        commit timestamp is ≤ ``ts`` (a POSIX timestamp) — pass the
        result to ``read(version=...)`` / ``changes(...)``.  Versions
        without a recorded timestamp (pre-audit manifests) are treated
        as older than everything, like Delta treats missing commit
        times.  Raises when ``ts`` predates the oldest retained
        commit — reading "before the table existed" (or before vacuum's
        horizon) must fail loudly, not silently return v0."""
        best = None
        for v in self.versions():
            man_ts = self._manifest(v).get("ts")
            if man_ts is None or man_ts <= ts:
                best = v
        if best is None:
            raise DatabaseException(
                f"partitioned table '{self.root}': no retained version "
                f"at or before timestamp {ts}; oldest retained commit "
                f"is newer (or vacuumed)")
        return best

    def restore(self, version: int) -> "PartitionedTable":
        """Delta ``RESTORE``: publish a NEW version whose content is
        exactly the retained ``version``'s (parts, tombstones,
        partition column, schema) — history only rolls FORWARD, so the
        bad intermediate versions stay readable for audit, and the
        restore itself is one manifest write: O(metadata), zero data
        movement at any table size.  The streaming ``txns`` watermark
        map carries forward from the CURRENT version, not the restored
        one — exactly-once replay protection must survive a rollback.
        ``changes()`` across the restore commit reports exactly the
        rows that came back or disappeared (it is an ordinary manifest
        diff).  CHECK constraints are NOT re-validated against the
        restored content (they gate row-producing batches, not
        manifest-level rollbacks) — if a constraint was added after
        the target version, validate explicitly before restoring."""
        cur = self._manifest()
        old = self._manifest(version)
        self._commit(cur["version"] + 1, self._pcols_of(old),
                     T._parse_datatype_string(old["schema"]),
                     old["parts"], txns=cur.get("txns"),
                     tombstones=old.get("tombstones"),
                     tomb_counts=old.get("tomb_counts", {}),
                     op=f"RESTORE (to v{version})")
        return self

    def clone(self, dest_root: str,
              version: int | None = None) -> "PartitionedTable":
        """SHALLOW CLONE (Delta ``CLONE``): a new table whose v0
        manifest REFERENCES the source version's data directories —
        zero rows copied, O(metadata).  DML on the clone copy-on-writes
        fresh directories under the CLONE's own root (the source is
        never written), and the clone's :meth:`vacuum` deletes only
        under its own ``parts/``, so it can never reclaim source data.

        The classic Delta shallow-clone hazard — vacuuming the SOURCE
        deletes directories the clone still references — is GUARDED
        here: every clone registers its root in the source's
        ``_clones.json``, and the source's :meth:`vacuum` treats any
        directory a registered clone's (transitively — a clone of a
        clone still points at OUR data dirs) retained manifest
        references as reachable, skipping it.  A clone deleted from
        disk is pruned from the registry on the next vacuum;
        :meth:`detach_clone` removes a registration explicitly (after
        a deep copy)."""
        man = self._manifest(version)
        dest_root = dest_root.rstrip("/")
        metaio.IO.make_dirs(os.path.join(dest_root, "_manifests"),
                            exist_ok=False)
        metaio.IO.make_dirs(os.path.join(dest_root, "parts"),
                            exist_ok=True)
        stub = object.__new__(PartitionedTable)
        stub.spark = self.spark
        stub.root = dest_root
        stub._commit(0, self._pcols_of(man),
                     T._parse_datatype_string(man["schema"]),
                     man["parts"], tombstones=man.get("tombstones"),
                     constraints=man.get("constraints", {}),
                     bloom_cols=man.get("bloom_cols", []),
                     tomb_counts=man.get("tomb_counts", {}),
                     op="CLONE")
        self._register_clone(dest_root)
        return PartitionedTable(self.spark, dest_root)

    # ------------------------------------------------------------------ #
    # clone registry (vacuum-safety for shallow clones)
    # ------------------------------------------------------------------ #
    def _clones_path(self) -> str:
        return os.path.join(self.root, "_clones.json")

    def registered_clones(self) -> list[str]:
        """Roots of shallow clones registered against this table (the
        set this table's vacuum protects)."""
        try:
            return list(json.loads(
                metaio.IO.read_text(self._clones_path())))
        except FileNotFoundError:
            return []

    def _write_clones(self, clones: list[str]) -> None:
        metaio.IO.replace_text(self._clones_path(),
                               json.dumps(sorted(set(clones))))

    def _register_clone(self, dest_root: str) -> None:
        self._write_clones(self.registered_clones()
                           + [os.path.normpath(dest_root)])

    def detach_clone(self, dest_root: str) -> None:
        """Drop a clone registration (after deep-copying the clone's
        data out, or after deleting the clone) so this table's vacuum
        stops protecting the clone's directories."""
        dest = os.path.normpath(dest_root)
        self._write_clones([c for c in self.registered_clones()
                            if os.path.normpath(c) != dest])

    def _clone_referenced(self) -> set[str]:
        """Directories any registered clone — transitively — still
        references in a retained manifest.  Dead clones (root gone from
        disk) are pruned from their parent's registry as a side
        effect.  Driver cost: O(registered clones × their retained
        manifests), metadata only; no data directory is opened."""
        referenced: set[str] = set()
        seen = {os.path.normpath(self.root)}
        frontier: list["PartitionedTable"] = [self]
        while frontier:
            t = frontier.pop()
            live = []
            for c in t.registered_clones():
                c = os.path.normpath(c)
                if not metaio.IO.is_dir(
                        os.path.join(c, "_manifests")):
                    continue  # clone deleted — prune below
                live.append(c)
                if c in seen:
                    continue
                seen.add(c)
                clone = PartitionedTable(self.spark, c)
                for v in clone.versions():
                    for ds in clone._manifest(v)["parts"].values():
                        referenced.update(os.path.normpath(d)
                                          for d in ds)
                frontier.append(clone)
            if live != t.registered_clones():
                t._write_clones(live)
        return referenced

    def vacuum(self, keep_last: int = 1) -> list[str]:
        """Reachability-based reclamation: drop manifests older than
        the newest ``keep_last`` retained ones, then delete every data
        directory no retained manifest references.  A directory shared
        with a retained version SURVIVES — vacuum cost tracks churn,
        not table size.  Directories a registered shallow clone still
        references are treated as reachable too (see :meth:`clone`),
        closing the Delta vacuum-after-clone data-loss hazard.
        Returns deleted directories."""
        if keep_last < 1:
            raise DatabaseException(
                f"vacuum '{self.root}': keep_last must be >= 1, got "
                f"{keep_last}")
        vs = self.versions()
        for v in vs[:-keep_last] if len(vs) > keep_last else []:
            metaio.IO.remove(self._manifest_path(v))
        referenced = self._clone_referenced()
        for v in self.versions():
            for ds in self._manifest(v)["parts"].values():
                referenced.update(os.path.normpath(d) for d in ds)
        removed = []
        parts_root = os.path.join(self.root, "parts")

        # top level = staging dirs; manifests reference their
        # __p=<val> (or nested __p0=<val>/__p1=<val>/...) leaf
        # children.  A subtree with no referenced descendant goes
        # entirely; a partially-referenced one sheds recursively.
        def shed(path: str) -> None:
            p = os.path.normpath(path)
            prefix = p + os.sep
            if p not in referenced and not any(
                    r.startswith(prefix) for r in referenced):
                metaio.IO.remove_tree(p)
                removed.append(p)
                return
            for sub in sorted(metaio.IO.list_dir(p)):
                d = os.path.join(p, sub)
                if sub.startswith("__p") and metaio.IO.is_dir(d):
                    shed(d)

        for name in sorted(metaio.IO.list_dir(parts_root)):
            top = os.path.join(parts_root, name)
            if metaio.IO.is_dir(top):
                shed(top)
        return removed
