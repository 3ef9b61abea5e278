"""Point reads served by the driver-resident key index (pointindex.py).

Every index-served answer is compared with the Spark path it replaces
(``table(t).where(col == value)``, or ``read(version).filter(...)`` for
a partitioned table) on rows and schema; probes the index must not
answer are checked to fall back; and the index is checked never to
outlive the snapshot it was built from."""

from __future__ import annotations

import datetime as dt
import decimal
import os
import sys
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from cs186_query_optimization_project_spark import Database, PartitionedTable
from cs186_query_optimization_project_spark.errors import DatabaseException

N = 60
#: key values of the ``t`` table: duplicates, NULLs and non-ASCII text
KEYS = [None if i % 11 == 0 else i // 3 for i in range(N)]
NAMES = ["é", "日本", "b", "a", None, "b", "ab", ""]


def _table(keys=KEYS, tag: str = "") -> pa.Table:
    n = len(keys)
    base = dt.datetime(2024, 3, 10, 1, 30)
    return pa.table({
        "k": pa.array(keys, pa.int64()),
        "s": pa.array([NAMES[i % len(NAMES)] for i in range(n)]),
        "i": pa.array([i % 7 for i in range(n)], pa.int32()),
        "sh": pa.array([i % 5 for i in range(n)], pa.int16()),
        "grp": pa.array([f"g{i % 3}" for i in range(n)]),
        "ntz": pa.array([base + dt.timedelta(minutes=17 * i)
                         for i in range(n)], pa.timestamp("us")),
        "ts": pa.array([base + dt.timedelta(minutes=17 * i)
                        for i in range(n)], pa.timestamp("us", tz="UTC")),
        "d": pa.array([dt.date(2024, 1, 1) + dt.timedelta(days=i)
                       for i in range(n)], pa.date32()),
        "dec": pa.array([decimal.Decimal(i) / 4 for i in range(n)],
                        pa.decimal128(12, 2)),
        "note": pa.array([f"{tag}row{i}" for i in range(n)]),
    })


def _write(path, table: pa.Table) -> str:
    pq.write_table(table, str(path))
    return str(path)


@pytest.fixture
def la_zone(spark):
    """A non-UTC session time zone for the test's duration."""
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    yield
    spark.conf.set("spark.sql.session.timeZone", old)


@pytest.fixture
def pidb(spark, tmp_path):
    """A Database with ``t`` (the table above) and ``u`` (keys 0..9 as
    both long and int) registered from parquet."""
    db = Database(spark)
    db.register_parquet("t", _write(tmp_path / "t.parquet", _table()))
    db.register_parquet("u", _write(tmp_path / "u.parquet", pa.table({
        "uk": pa.array(range(10), pa.int64()),
        "uk32": pa.array(range(10), pa.int32()),
        "label": [f"u{i}" for i in range(10)]})))
    return db


def leaves(df) -> set[str]:
    """Kinds of the analyzed plan's leaves: ``LocalRelation`` for an
    index slice, ``LogicalRelation`` for a file scan."""
    found = df._jdf.queryExecution().analyzed().collectLeaves()
    return {found.apply(i).getClass().getSimpleName()
            for i in range(found.size())}


def served(df) -> bool:
    """True when ``df`` reads only index slices."""
    return leaves(df) == {"LocalRelation"}


def bag(df) -> list:
    """``df``'s rows in a canonical order."""
    return sorted(df.collect(), key=repr)


def spark_path(db, table, column, value):
    return db.table(table).where(F.col(column) == F.lit(value))


def outcome(thunk):
    """Rows in order, or the exception type a failing probe raises."""
    try:
        return thunk()
    except Exception as exc:  # compared across the two paths
        return type(exc)


def check_lookup(db, table, column, value):
    """``lookup``/``contains`` equal the Spark path; returns the
    ``lookup`` DataFrame."""
    got = db.lookup(table, column, value)
    want = spark_path(db, table, column, value)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert db.contains(table, column, value) == bool(want.take(1))
    return got


def warm(db, table, column, value) -> None:
    """Probe until the index serves ``column``; assert it does."""
    db.lookup(table, column, value)
    assert served(check_lookup(db, table, column, value))


def _concurrent(probe, keys) -> list:
    """Run ``probe(key)`` for every key on its own thread, released
    together with a short switch interval; returns the answers (or
    exceptions) in key order."""
    barrier = threading.Barrier(len(keys))
    out: list = [None] * len(keys)

    def run(i: int, key) -> None:
        barrier.wait()
        try:
            out[i] = probe(key)
        except Exception as exc:  # reported by the caller's assert
            out[i] = exc

    threads = [threading.Thread(target=run, args=(i, k))
               for i, k in enumerate(keys)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    return out


# ---------------------------------------------------------------------- #
# differential: index-served answers equal the Spark path
# ---------------------------------------------------------------------- #
@pytest.mark.parametrize("column, values", [
    ("k", [3, 0, 19, 500, -1]),           # duplicates, absent keys
    ("s", ["b", "日本", "é", "", "zz"]),   # dup, non-ASCII, empty, absent
    ("i", [4, 0, 9]),
    ("sh", [2, 40]),
])
def test_lookup_matches_spark_path(pidb, la_zone, column, values):
    first = pidb.lookup("t", column, values[0])
    assert not served(first)              # the first probe scans
    for v in values:
        got = check_lookup(pidb, "t", column, v)
        assert served(got), (column, v)
    assert pidb._entry("t").point_index.builds == 1


def test_payload_types_round_trip(pidb, la_zone, spark):
    """Every payload type survives the Arrow copy, including TIMESTAMP
    under a non-UTC session zone (the rows cross a DST change)."""
    warm(pidb, "t", "k", 1)
    got = pidb.lookup("t", "k", 7)
    assert served(got)
    want = spark_path(pidb, "t", "k", 7)
    assert [f.dataType.simpleString() for f in got.schema.fields] == [
        "bigint", "string", "int", "smallint", "string", "timestamp_ntz",
        "timestamp", "date", "decimal(12,2)", "string"]
    assert got.collect() == want.collect()
    # the same instants rendered as strings in the session zone
    as_text = [F.col(c).cast("string") for c in ("ntz", "ts")]
    assert got.select(*as_text).collect() == \
        want.select(*as_text).collect()


def test_null_keys_never_match(pidb):
    warm(pidb, "t", "k", 1)
    index = pidb._entry("t").point_index
    nulls = sum(k is None for k in KEYS)
    assert len(index._columns["k"].rows) == N - nulls
    assert not served(pidb.lookup("t", "k", None))
    assert pidb.lookup("t", "k", None).count() == 0


@pytest.mark.parametrize("column, value", [
    ("k", None), ("k", True), ("k", 3.0), ("k", np.int64(3)),
    ("k", 2 ** 63), ("i", 2 ** 31), ("sh", 2 ** 15), ("k", "3"),
    ("s", 3), ("d", "2024-01-02"),
])
def test_ineligible_probes_take_spark_path(pidb, column, value):
    """Probes needing Spark's casts (or its errors) fall back even when
    the column is indexed."""
    for c, v in (("k", 1), ("i", 1), ("sh", 1), ("s", "a")):
        warm(pidb, "t", c, v)
    got = outcome(lambda: pidb.lookup("t", column, value))
    want = outcome(lambda: spark_path(pidb, "t", column, value))
    if isinstance(want, type):
        assert got is want
        return
    assert not served(got)
    assert outcome(got.collect) == outcome(want.collect)
    assert outcome(lambda: pidb.contains("t", column, value)) == \
        outcome(lambda: bool(want.take(1)))


def test_collated_string_takes_spark_path(pidb):
    """Under a non-binary collation "B" = "b"; the index compares bytes,
    so it must not answer."""
    pidb.register_dataframe("c", pidb.table("t").select(
        "k", F.expr("s collate UTF8_LCASE").alias("s")))
    for v in ("B", "b", "B"):
        got = pidb.lookup("c", "s", v)
        assert not served(got)
        assert bag(got) == bag(spark_path(pidb, "c", "s", v))
    assert pidb.contains("c", "s", "B")


def test_lookup_key_matches_spark_path(pidb):
    """The probed alias and its same-typed inner join partner are
    substituted; predicates, projections and aggregates still apply."""
    def builder():
        return (pidb.query("t").join("u", "k", "uk")
                .where("i", ">", 0).select("k", "s", "label"))

    for v in (3, 4, 5, 42):
        got = builder().lookup_key("k", v)
        want = builder().where("k", "=", v).execute()
        assert got.schema == want.schema
        assert bag(got) == bag(want)
        assert builder().contains_key("k", v) == bool(want.take(1))
    assert served(builder().lookup_key("k", 3))
    agg = pidb.query("t").join("u", "k", "uk").count()
    assert agg.lookup_key("uk", 4).collect()[0][0] == \
        pidb.table("t").where("k = 4").count()


def test_lookup_key_partner_rules(pidb):
    """A partner joined on another Spark type, or through an outer
    join, keeps its full scan."""
    for _ in range(2):
        pidb.query("u").lookup_key("uk", 1).collect()
        pidb.query("u").lookup_key("uk32", 1).collect()
    mixed = pidb.query("t").join("u", "k", "uk32").select("k", "label")
    outer = pidb.query("t").join("u", "k", "uk", how="left") \
        .select("k", "label")
    for q, probe in ((mixed, "k"), (outer, "k")):
        for v in (2, 3):
            got = q.lookup_key(probe, v)
        assert leaves(got) == {"LocalRelation", "LogicalRelation"}
    want = pidb.table("t").join(pidb.table("u"), F.col("k") == F.col("uk"),
                                "left").where("k = 3").select("k", "label")
    assert bag(outer.lookup_key("k", 3)) == bag(want)


def test_lookup_key_is_thread_safe(pidb):
    """Threads probing one shared builder see only their own key."""
    q = pidb.query("t").select("k", "note")
    keys = list(range(8))
    want = [[bag(spark_path(pidb, "t", "k", v).select("k", "note"))] * 4
            for v in keys]
    got = _concurrent(
        lambda v: [bag(q.lookup_key("k", v)) for _ in range(4)], keys)
    assert got == want
    assert q.wheres == []


# ---------------------------------------------------------------------- #
# invalidation: the index never outlives its snapshot
# ---------------------------------------------------------------------- #
def _rows(db, keys, tag: str):
    return db.spark.createDataFrame(_table(keys, tag), db.schema("t"))


def _after(db, v) -> None:
    """The probe right after a change, then a rebuilt index, both equal
    the Spark path over the new snapshot."""
    check_lookup(db, "t", "k", v)
    warm(db, "t", "k", v)


def test_dml_drops_the_index(pidb, spark):
    warm(pidb, "t", "k", 5)
    pidb.insert_rows("t", _rows(pidb, [5, 5], "ins"))
    _after(pidb, 5)
    assert pidb.lookup("t", "k", 5).where("note like 'ins%'").count() == 2
    pidb.delete_rows("t", F.col("k") == 5)
    _after(pidb, 5)
    assert pidb.lookup("t", "k", 5).count() == 0
    pidb.update_rows("t", F.col("k") == 6, {"note": F.lit("upd")})
    _after(pidb, 6)
    assert {r.note for r in pidb.lookup("t", "k", 6).collect()} == {"upd"}
    source = _rows(pidb, [7, 1000], "mrg")
    pidb.merge_rows("t", source, "k")
    _after(pidb, 7)
    assert {r.note for r in pidb.lookup("t", "k", 7).collect()} == {"mrgrow0"}
    assert pidb.contains("t", "k", 1000)


def test_in_memory_entry_dml_drops_the_index(pidb, spark):
    pidb.register_dataframe("t", pidb.table("t"))
    warm(pidb, "t", "k", 5)
    pidb.insert_rows("t", _rows(pidb, [5], "ins"))
    _after(pidb, 5)
    assert pidb.lookup("t", "k", 5).where("note = 'insrow0'").count() == 1


def test_reregistration_drops_the_index(pidb, tmp_path):
    warm(pidb, "t", "k", 5)
    pidb.register_parquet("t", _write(tmp_path / "t2.parquet",
                                      _table(tag="new")))
    _after(pidb, 5)
    assert {r.note[:3] for r in pidb.lookup("t", "k", 5).collect()} == \
        {"new"}


@pytest.mark.parametrize("mode", ["optimistic", "2pl"])
def test_transaction_commit_drops_the_index(pidb, spark, mode):
    warm(pidb, "t", "k", 5)
    txn = pidb.begin(mode=mode)
    txn.insert_rows("t", _rows(pidb, [5], "txn"))
    # the transaction's own view is not the catalog's snapshot
    assert txn.query("t").lookup_key("k", 5) \
        .where("note = 'txnrow0'").count() == 1
    assert pidb.lookup("t", "k", 5).where("note = 'txnrow0'").count() == 0
    txn.commit()
    _after(pidb, 5)
    assert pidb.lookup("t", "k", 5).where("note = 'txnrow0'").count() == 1


def test_out_of_band_overwrite(pidb, spark, tmp_path):
    warm(pidb, "t", "k", 5)
    time.sleep(0.01)
    _write(tmp_path / "t.parquet", _table([k and k + 1 for k in KEYS],
                                          tag="oob"))
    fresh = spark.read.parquet(str(tmp_path / "t.parquet"))
    for _ in range(3):
        got = pidb.lookup("t", "k", 5)
        assert got.collect() == fresh.where("k = 5").collect()
        assert {r.note[:3] for r in got.collect()} == {"oob"}
    assert pidb._entry("t").point_index.builds == 2


def test_broadcast_threshold_caps_the_index(pidb, spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for _ in range(3):
            assert not served(check_lookup(pidb, "t", "k", 5))
        assert pidb._entry("t").point_index.builds == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


# ---------------------------------------------------------------------- #
# PartitionedTable.read_point
# ---------------------------------------------------------------------- #
@pytest.fixture
def ppt(spark, pidb, tmp_path):
    return PartitionedTable.create(spark, pidb.table("t"),
                                   str(tmp_path / "pt"), "grp",
                                   bloom_cols=["k"])


def check_point(pt, v, version=None):
    got = pt.read_point("k", v, version=version)
    want = pt.read(version).filter(F.col("k") == v)
    assert got.schema == want.schema
    assert bag(got) == bag(want)
    return got


def test_read_point_pins_the_version(ppt, pidb):
    assert not served(check_point(ppt, 4))
    for v in (4, 5, 999):
        assert served(check_point(ppt, v))
    v0 = ppt.versions()[-1]
    ppt.insert(_rows(pidb, [4], "ins"))
    assert not served(check_point(ppt, 4))   # a new version scans first
    assert served(check_point(ppt, 4))
    assert check_point(ppt, 4).where("note = 'insrow0'").count() == 1
    got = check_point(ppt, 4, version=v0)  # the old version, exactly
    assert got.where("note = 'insrow0'").count() == 0
    ppt.delete_soft("note = 'row13'")        # a tombstone
    check_point(ppt, 4)
    assert served(check_point(ppt, 4))
    assert check_point(ppt, 4).where("note = 'row13'").count() == 0


def test_read_point_vacuumed_version_raises(ppt, pidb):
    v0 = ppt.versions()[-1]
    for _ in range(2):
        check_point(ppt, 4, version=v0)
    ppt.insert(_rows(pidb, [4], "ins"))
    ppt.vacuum(keep_last=1)
    with pytest.raises(DatabaseException) as want:
        ppt.read(version=v0)
    with pytest.raises(DatabaseException) as got:
        ppt.read_point("k", 4, version=v0)
    assert str(got.value) == str(want.value)
    with pytest.raises(DatabaseException, match="NULL probe"):
        ppt.read_point("k", None)


# ---------------------------------------------------------------------- #
# concurrency and cost
# ---------------------------------------------------------------------- #
def test_concurrent_first_build_is_shared(pidb, ppt):
    """More probing threads than cores race the first build: one build,
    every answer right."""
    keys = [3, 4, 5, 6, 3, 7, 500, 8]
    want = [spark_path(pidb, "t", "k", k).collect() for k in keys]
    got = _concurrent(lambda k: pidb.lookup("t", "k", k).collect(), keys)
    assert got == want
    assert pidb._entry("t").point_index.builds == 1
    want = [bag(ppt.read().filter(F.col("k") == k)) for k in keys]
    got = _concurrent(lambda k: bag(ppt.read_point("k", k)), keys)
    assert got == want
    assert ppt._point_index[1].builds == 1


def test_served_probes_launch_no_jobs(pidb, spark):
    warm(pidb, "t", "k", 5)
    sc = spark.sparkContext
    sc.setJobGroup("point-index-probe", "served probes")
    try:
        rows = pidb.lookup("t", "k", 5).collect()
        hit = pidb.contains("t", "k", 5)
        miss = pidb.contains("t", "k", 555)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 3 and hit and not miss
    assert list(sc.statusTracker().getJobIdsForGroup(
        "point-index-probe")) == []


def test_index_memory_is_reported(pidb):
    warm(pidb, "t", "k", 5)
    index = pidb._entry("t").point_index
    assert index.nbytes >= index._table.nbytes + 16 * (
        N - sum(k is None for k in KEYS))
    assert os.path.exists(index._paths[0])
