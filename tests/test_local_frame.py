"""`algebra.local_frame`: statement rows enter Spark as JVM LocalRelations.

Inserted/deleted tuples, DRL `Const` literals, empty relations and the
catalog relations are driver-side rows. They must reach Spark without a
Python RDD (whose scans run Python workers and whose unknown size defeats
broadcast planning), with exactly the values, types and rejections of
PySpark's own `createDataFrame(list, schema)`, which these tests use as
their oracle.
"""

import datetime
from decimal import Decimal

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sakura_spark import algebra, database, errors
from sakura_spark.database import Database
from sakura_spark.domains import BUILTIN_DOMAINS, DomainRegistry, schema_to_struct
from sakura_spark.drl import compile_query, parse
from sakura_spark.hashing import relation_hash, schema_signature
from sakura_spark.management.branches import BranchManager

# Two distinct non-NULL values per built-in domain.
DOMAIN_VALUES = {
    "integer": [-7, 2**62],
    "natural": [0, 41],
    "rational": [Decimal("1.5"), Decimal("-0.1234567890123456789")],
    "string": ["", "héllo"],
    "float": [0.1, -2.5e300],
    "boolean": [True, False],
    "timestamp": [datetime.datetime(2024, 2, 29, 23, 59, 59, 999999),
                  datetime.datetime(1969, 12, 31, 0, 0, 1)],
    "date": [datetime.date(2020, 2, 29), datetime.date(1900, 1, 1)],
    "binary": [b"\x00\x01", bytearray(b"xyz")],
    "float_vector": [[0.1, 2.0], []],
}


def _rdd_lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def _rows(df):
    return sorted(df.collect(), key=repr)


def test_lineage_check_sees_python_rdds(spark):
    """The guard below is meaningful: a list-built frame shows PythonRDD."""
    assert "PythonRDD" in _rdd_lineage(spark.createDataFrame([Row(v=1)], "v bigint"))


def test_statement_frames_have_no_python_rdd(spark, store):
    db = Database(spark, "noprdd", store=store, snapshot_on_mutation=False)
    db.create_relation("t", [("v", "integer"), ("s", "string")])
    rel = db._rel("t")
    frames = {
        "create_relation": db.relation("t"),
        "_as_batch": db._as_batch(rel, [{"v": 1, "s": "a"}, {"v": 2, "s": "b"}]),
        "Const": compile_query(spark, parse('(Const (("v" (Int 1))))'), db.resolver),
        **{name: db.relation(name) for name in (
            "sakura:relation", "sakura:domain", "sakura:attribute",
            "sakura:constraint", "sakura:on", "sakura:timing")},
        **BranchManager(store).virtual_frames(spark),
    }
    db.insert_tuples("t", [{"v": 1, "s": "a"}])
    db.clear_relation("t")
    frames["clear_relation"] = db.relation("t")
    for name, df in frames.items():
        assert "PythonRDD" not in _rdd_lineage(df), name


@pytest.mark.parametrize("domain", sorted(BUILTIN_DOMAINS))
def test_stored_values_and_hash_match_create_dataframe(spark, store, domain):
    pairs = [("k", "integer"), ("v", domain)]
    rows = [{"k": i, "v": v} for i, v in enumerate(DOMAIN_VALUES[domain])]
    db = Database(spark, f"vals_{domain}", store=store)
    db.create_relation("t", pairs)
    db.insert_tuples("t", rows)
    struct = schema_to_struct(pairs, DomainRegistry())
    oracle = spark.createDataFrame([Row(**r) for r in rows], schema=struct)
    stored = db.relation("t")
    assert _rows(stored) == _rows(oracle)
    assert db._rel("t").hash == relation_hash(oracle, "t", schema_signature(pairs))
    # Deleting by the same Python values finds the stored tuples.
    assert db.delete_tuples("t", rows[:1]) == 1


def test_nullable_values_match_create_dataframe(spark):
    """Every built-in type, with a NULL row, through a nullable struct."""
    struct = T.StructType(
        [T.StructField(d, BUILTIN_DOMAINS[d].spark_type) for d in sorted(DOMAIN_VALUES)]
    )
    rows = [tuple(DOMAIN_VALUES[d][i] for d in sorted(DOMAIN_VALUES)) for i in range(2)]
    rows.append(tuple(None for _ in DOMAIN_VALUES))
    got = algebra.local_frame(spark, rows, struct)
    oracle = spark.createDataFrame(rows, schema=struct)
    assert got.schema == oracle.schema
    assert _rows(got) == _rows(oracle)
    assert relation_hash(got, "n", "sig") == relation_hash(oracle, "n", "sig")


def test_naive_timestamp_is_the_same_instant(spark):
    ts = datetime.datetime(2023, 6, 1, 12, 30, 45, 123456)
    struct = T.StructType([T.StructField("ts", T.TimestampType())])
    micros = algebra.local_frame(spark, [(ts,)], struct).select(F.unix_micros("ts")).first()[0]
    assert micros == T.TimestampType().toInternal(ts)


def test_decimal_rounds_half_up_like_the_jvm(spark):
    struct = T.StructType([T.StructField("r", T.DecimalType(38, 18))])
    rows = [(Decimal("0.1234567890123456785"),), (Decimal("-2.0000000000000000005"),)]
    got = algebra.local_frame(spark, rows, struct)
    assert _rows(got) == _rows(spark.createDataFrame(rows, schema=struct))


def test_const_types_match_inference(spark):
    row = {
        "i": 1, "s": "x", "f": 1.5, "b": True, "d": datetime.date(2020, 1, 2),
        "ts": datetime.datetime(2020, 1, 2, 3, 4, 5), "r": Decimal("2.25"),
        "bin": b"\x01", "arr": [1, 2],
    }
    got = algebra.const_relation(spark, row)
    oracle = spark.createDataFrame([Row(**row)])
    assert got.schema == oracle.schema
    assert got.collect() == oracle.collect()
    drl = compile_query(spark, parse('(Const (("n" (Int 3)) ("name" (Str "a"))))'), {})
    assert drl.schema.simpleString() == "struct<n:bigint,name:string>"


def test_type_mismatch_is_rejected_before_apply(spark, store):
    db = Database(spark, "mismatch", store=store)
    db.create_relation("t", [("v", "integer")])
    db.insert_tuples("t", [{"v": 1}])
    before = db.hash
    with pytest.raises(Exception, match="LongType"):
        db.insert_tuples("t", [{"v": "two"}])
    with pytest.raises(Exception, match="nullable"):
        db.insert_tuples("t", [{"v": None}])
    assert db.hash == before
    assert [r.v for r in db.relation("t").collect()] == [1]


def test_catalog_builds_only_the_requested_relation(spark, store, monkeypatch):
    db = Database(spark, "cat", store=store, snapshot_on_mutation=False)
    built = []
    real = database.local_frame
    monkeypatch.setattr(
        database, "local_frame", lambda s, rows, struct: built.append(struct) or real(s, rows, struct)
    )
    assert [r.timing for r in db.relation("sakura:timing").collect()] == ["immediate", "deferred"]
    assert built == [database.CATALOG_SCHEMAS["sakura:timing"]]
    with pytest.raises(errors.UnknownRelation):
        db.relation("sakura:nope")
