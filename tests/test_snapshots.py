"""Incremental relation hashes and the snapshot store's staged writes.

Every statement derives its relation's new hash from the digest of the
tuples it inserts or removes (hashing.Digest); ``relation_hash``, the full
rescan, stays the oracle. These tests run statement sequences and require
the incremental hash to equal ``relation_hash`` of the materialized
extension at every step — also for a mounted frame with duplicate rows and
after ``Database.load`` on a store handle that knows no digests.
"""

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import sakura_spark.database as database_mod
from conftest import diff_examples
from sakura_spark import errors
from sakura_spark.database import Database
from sakura_spark.hashing import relation_hash, schema_signature
from sakura_spark.management.store import SnapshotStore

_SCHEMA = [("a", "integer"), ("b", "string")]
_ROW = st.fixed_dictionaries({"a": st.integers(0, 4), "b": st.sampled_from(["x", "y"])})
_ROWS = st.lists(_ROW, min_size=1, max_size=3)
_OP = st.one_of(
    st.tuples(st.just("insert"), st.sampled_from(["t", "m"]), _ROWS),
    st.tuples(st.just("delete"), st.sampled_from(["t", "m"]), _ROWS),
    st.tuples(st.just("delete_where"), st.sampled_from(["t", "m"]), st.integers(0, 4)),
    st.tuples(st.just("assign"), st.sampled_from(["t", "m"]), st.lists(_ROW, max_size=4)),
    st.tuples(st.just("clear"), st.sampled_from(["t", "m"]), st.none()),
)


def _mounted(spark):
    """A bag: the mounted frame carries duplicate rows."""
    rows = [(1, "x"), (1, "x"), (2, "y"), (3, "x"), (3, "x")]
    return spark.createDataFrame(rows, "a int, b string")


def _apply(db, op):
    kind, rel, arg = op
    spark = db.spark
    if kind == "insert":
        db.insert_tuples(rel, arg)
    elif kind == "delete":
        db.delete_tuples(rel, arg)
    elif kind == "delete_where":
        db.delete_where(rel, spark.createDataFrame([(arg,)], "a int"))
    elif kind == "assign":
        rows = [(r["a"], r["b"]) for r in arg]
        db.assign(rel, spark.createDataFrame(rows, "a int, b string"))
    else:
        db.clear_relation(rel)


def _assert_hashes_match_rescan(db):
    """Each relation's hash and digest equal a full rescan of its rows,
    rebuilt from the driver so no lineage is shared with the database."""
    for name, rel in db.state.relations.items():
        rows = [tuple(r) for r in rel.df.collect()]
        fresh = db.spark.createDataFrame(rows, "a int, b string")
        want = relation_hash(fresh, name, schema_signature(rel.schema_pairs))
        assert rel.hash == want, (name, rows)
        if rel.digest is not None:
            assert rel.digest == want.digest, name
        assert len(set(rows)) == len(rows), f"{name} is stored as a bag"


def _run(db, ops):
    for op in ops:
        before = db.hash
        try:
            _apply(db, op)
        except errors.SakuraError:
            assert db.hash == before  # a rejected statement moves nothing
        _assert_hashes_match_rescan(db)


@given(ops=st.lists(_OP, min_size=1, max_size=5), split=st.integers(0, 5))
@settings(
    max_examples=diff_examples(10, 3),
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_incremental_hash_equals_rescan(spark, tmp_path_factory, ops, split):
    store = SnapshotStore(str(tmp_path_factory.mktemp("store")))
    db = Database(spark, "inc", store=store)
    db.create_relation("t", _SCHEMA)
    db.register_external("m", _mounted(spark))
    db.insert_tuples("t", [{"a": 0, "b": "x"}])
    _assert_hashes_match_rescan(db)
    _run(db, ops[:split])
    # The same state through a store handle that knows no digests: every
    # relation takes the full path once, then derives its hash again.
    cold = Database.load(spark, db.hash, SnapshotStore(store.root))
    assert all(r.digest is None for r in cold.state.relations.values())
    _run(cold, ops[split:])


def _counting(monkeypatch, owner, attr):
    calls = []
    raw = getattr(owner, attr)

    def spy(*args, **kwargs):
        calls.append(args)
        return raw(*args, **kwargs)

    monkeypatch.setattr(owner, attr, spy)
    return calls


def test_delete_restoring_a_stored_state_writes_nothing(spark, store, monkeypatch):
    from pyspark.sql.readwriter import DataFrameWriter

    db = Database(spark, "revert", store=store)
    db.create_relation("t", _SCHEMA)
    db.insert_tuples("t", [{"a": 1, "b": "x"}])
    h0 = db.hash
    db.insert_tuples("t", [{"a": 2, "b": "y"}])
    writes = _counting(monkeypatch, DataFrameWriter, "parquet")
    hashes = _counting(monkeypatch, database_mod, "relation_hash")
    db.delete_tuples("t", [{"a": 2, "b": "y"}])
    assert db.hash == h0
    assert writes == [] and hashes == []
    assert sorted(tuple(r) for r in db.relation("t").collect()) == [(1, "x")]


def test_load_reuses_digests_this_process_computed(spark, store, monkeypatch):
    db = Database(spark, "warm", store=store)
    db.create_relation("t", _SCHEMA)
    db.insert_tuples("t", [{"a": 1, "b": "x"}])
    hashes = _counting(monkeypatch, database_mod, "relation_hash")
    warm = Database.load(spark, db.hash, store)
    warm.insert_tuples("t", [{"a": 2, "b": "y"}])
    assert hashes == []
    cold = Database.load(spark, db.hash, SnapshotStore(store.root))
    cold.insert_tuples("t", [{"a": 2, "b": "y"}])
    assert len(hashes) == 1  # unknown digest: one rescan
    assert cold.hash == warm.hash
    cold.insert_tuples("t", [{"a": 3, "b": "y"}])
    assert len(hashes) == 1


def test_failed_write_leaves_no_staging_and_no_relation(spark, store):
    """A DataFrame that raises mid-write leaves neither a staging directory
    nor a key that ``has_relation`` reports."""
    bad = spark.range(10).filter("assert_true(id < 5) is null")
    with pytest.raises(Exception):
        store.put_relation("boom", bad)
    assert not store.has_relation("boom")
    leftover = [d for d in os.listdir(os.path.join(store.root, "relations"))
                if d.startswith("__staging_")]
    assert leftover == []


def _assert_matches_stored(db, name):
    """The relation's hash and digest equal a rescan of its stored parquet:
    what a load through a store that knows no digests computes."""
    rel = db.state.relations[name]
    stored = db.spark.read.parquet(db.store.relation_path(rel.hash))
    want = relation_hash(stored, name, schema_signature(rel.schema_pairs))
    assert rel.hash == want
    assert rel.digest == want.digest
    assert not want.had_duplicates


def test_insert_widening_a_mounted_frame_keeps_hash_of_stored_rows(spark, store):
    """A float and a decimal(10,2) column widen to the statement's double
    and decimal(38,18): every stored value is re-spelled ("1.25" becomes
    "1.250000000000000000"), so the hash follows the stored rows."""
    from decimal import Decimal

    mounted = spark.createDataFrame([(0.3, Decimal("1.25"))], "v float, d decimal(10,2)")
    db = Database(spark, "widen", store=store)
    db.register_external("m", mounted)
    db.create_relation("t", _SCHEMA)  # snapshots m: its digest is known
    assert db.state.relations["m"].digest is not None
    db.insert_tuples("m", [{"v": 0.1, "d": Decimal("2.50")}])
    _assert_matches_stored(db, "m")
    db.insert_tuples("m", [{"v": 0.2, "d": Decimal("3.50")}])
    _assert_matches_stored(db, "m")
    db.delete_tuples("m", [{"v": 0.1, "d": Decimal("2.50")}])
    _assert_matches_stored(db, "m")


def test_narrower_statement_rows_hash_as_stored(spark, store):
    """bigint rows into a float relation are stored as doubles (3 as
    "3.0"): the digest sums them as stored, and a bigint 3 duplicates a
    stored 3.0."""
    db = Database(spark, "narrow", store=store)
    db.create_relation("f", [("x", "float")])
    db.insert_tuples("f", [{"x": 3.0}])
    db.insert_from("f", spark.createDataFrame([(4,)], "x bigint"))
    _assert_matches_stored(db, "f")
    with pytest.raises(errors.DuplicateTuple):
        db.insert_from("f", spark.createDataFrame([(3,)], "x bigint"))
    db.delete_tuples("f", spark.createDataFrame([(4,)], "x bigint"))
    _assert_matches_stored(db, "f")
    assert [tuple(r) for r in db.relation("f").collect()] == [(3.0,)]
