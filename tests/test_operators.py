"""as-of join and range join semantics on controlled inputs."""

import datetime as dt
from conftest import diff_examples

import pytest
from pyspark.sql import functions as F

from sakura_spark.operators import asof_join, range_join


def ts(s):
    return dt.datetime(2024, 1, 1, 0, 0, s)


@pytest.fixture(scope="module")
def quotes_trades(spark):
    quotes = spark.createDataFrame(
        [(1, ts(0), 10.0), (1, ts(10), 11.0), (2, ts(5), 99.0)],
        "sym long, qts timestamp, px double",
    )
    trades = spark.createDataFrame(
        [(1, ts(5), 100), (1, ts(10), 200), (1, ts(20), 300), (2, ts(0), 400), (3, ts(1), 500)],
        "sym long, tts timestamp, qty long",
    )
    return quotes, trades


def test_asof_backward(quotes_trades):
    quotes, trades = quotes_trades
    out = asof_join(trades, quotes, on="sym", left_time="tts", right_time="qts")
    got = {(r.sym, r.qty): r.px for r in out.collect()}
    assert got[(1, 100)] == 10.0   # t=5 -> quote at t=0
    assert got[(1, 200)] == 11.0   # t=10 -> quote at t=10 (<= inclusive)
    assert got[(1, 300)] == 11.0   # t=20 -> latest quote
    assert got[(2, 400)] is None   # no quote yet at t=0
    assert got[(3, 500)] is None   # key never quoted -> left-outer NULL
    assert out.count() == trades.count()


def test_asof_forward(quotes_trades):
    quotes, trades = quotes_trades
    out = asof_join(trades, quotes, on="sym", left_time="tts", right_time="qts", direction="forward")
    got = {(r.sym, r.qty): r.px for r in out.collect()}
    assert got[(1, 100)] == 11.0   # next quote at t=10
    assert got[(1, 300)] is None   # nothing after t=20
    assert got[(2, 400)] == 99.0


def test_asof_suffix_collision(spark):
    left = spark.createDataFrame([(1, ts(5), 1.0)], "k long, t timestamp, v double")
    right = spark.createDataFrame([(1, ts(0), 2.0)], "k long, t timestamp, v double")
    out = asof_join(left, right, on="k", left_time="t", right_time="t")
    row = out.collect()[0]
    assert row.v == 1.0 and row.v_r == 2.0 and row.t_r == ts(0)


def test_asof_null_payload_not_backfilled(spark):
    """A NULL payload value in the MATCHED right row stays NULL — carrying
    payload columns independently would stitch it from an older right row
    (pandas.merge_asof / ASOF JOIN keep the matched row's NULL)."""
    quotes = spark.createDataFrame(
        [(1, ts(0), 10.0, "stale-note"), (1, ts(10), 11.0, None)],
        "sym long, qts timestamp, px double, note string",
    )
    trades = spark.createDataFrame([(1, ts(20), 300)], "sym long, tts timestamp, qty long")
    row = asof_join(trades, quotes, on="sym", left_time="tts", right_time="qts").collect()[0]
    assert row.px == 11.0          # matched row is the t=10 quote
    assert row.note is None       # its NULL note must NOT come from t=0
    assert row.qts == ts(10)      # all carried values from the same row


def test_asof_matches_pandas_merge_asof(spark):
    """Differential: random (key, time) tables vs pandas.merge_asof in both
    directions, including NULL right payloads. Right (key, time) pairs are
    unique — merge_asof resolves equal-time right duplicates by input
    order, which has no distributed analogue."""
    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    lefts = st.lists(st.tuples(st.integers(0, 2), st.integers(0, 20)), min_size=1, max_size=8)
    rights = st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 20), st.one_of(st.none(), st.integers(0, 9))),
        min_size=0,
        max_size=8,
        unique_by=lambda r: (r[0], r[1]),
    )

    @given(lefts=lefts, rights=rights, direction=st.sampled_from(["backward", "forward"]))
    @settings(
        max_examples=diff_examples(6, 3),
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
    )
    def run(lefts, rights, direction):
        ldf = spark.createDataFrame(lefts, "k long, lt long")
        rdf = spark.createDataFrame(
            [(k, t, v) for k, t, v in rights], "k long, rt long, payload long"
        )
        got = {
            (r.k, r.lt, i): (r.payload, r.rt)
            for i, r in enumerate(
                asof_join(ldf, rdf, on="k", left_time="lt", right_time="rt", direction=direction)
                .orderBy("k", "lt")
                .collect()
            )
        }
        lp = pd.DataFrame(sorted(lefts), columns=["k", "lt"]).astype(
            {"k": "int64", "lt": "int64"}
        )
        rp = pd.DataFrame(
            sorted(rights, key=lambda r: (r[0], r[1])), columns=["k", "rt", "payload"]
        ).astype({"k": "int64", "rt": "int64", "payload": "Int64"})
        merged = pd.merge_asof(
            lp.sort_values("lt", kind="stable"),
            rp.sort_values("rt", kind="stable"),
            left_on="lt",
            right_on="rt",
            by="k",
            direction=direction,
        ).sort_values(["k", "lt"], kind="stable")
        exp = {
            (int(r.k), int(r.lt), i): (
                None if pd.isna(r.payload) else int(r.payload),
                None if pd.isna(r.rt) else int(r.rt),
            )
            for i, r in enumerate(merged.itertuples())
        }
        assert got == exp

    run()


def test_range_join(spark):
    # Sub-second boundary rows: "e" is 10.5 s after its probe (outside the
    # window, though whole seconds would round it to 10), "f" 9.5 s after.
    half = dt.timedelta(milliseconds=500)
    for typ in ("timestamp", "timestamp_ntz"):
        probes = spark.createDataFrame(
            [(1, ts(30)), (1, ts(50)), (2, ts(30))], f"k long, pt {typ}"
        )
        refs = spark.createDataFrame(
            [(1, ts(25), "a"), (1, ts(35), "b"), (1, ts(59), "c"), (2, ts(45), "d"),
             (2, ts(40) + half, "e"), (2, ts(39) + half, "f")],
            f"k long, rt {typ}, tag string",
        )
        # matches where rt - pt in [-10, +10] seconds, same k
        out = range_join(probes, refs, on="k", left_time="pt", right_time="rt",
                         lower=-10, upper=10, bucket_seconds=7)
        got = sorted((r.k, r.pt.second, r.tag) for r in out.collect())
        assert got == [(1, 30, "a"), (1, 30, "b"), (1, 50, "c"), (2, 30, "f")], typ


def test_range_join_matches_naive(spark):
    import random

    rnd = random.Random(7)
    probes = spark.createDataFrame(
        [(rnd.randint(1, 3), ts(rnd.randint(0, 59))) for _ in range(25)],
        "k long, pt timestamp",
    ).dropDuplicates()
    refs = spark.createDataFrame(
        [(rnd.randint(1, 3), ts(rnd.randint(0, 59)), i) for i in range(25)],
        "k long, rt timestamp, rid long",
    )
    fast = range_join(probes, refs, on="k", left_time="pt", right_time="rt",
                      lower=-5, upper=5, bucket_seconds=4)
    naive = (
        probes.join(refs, on="k")
        .filter("unix_timestamp(rt) - unix_timestamp(pt) BETWEEN -5 AND 5")
    )
    assert sorted(map(tuple, fast.select("k", "pt", "rt", "rid").collect())) == sorted(
        map(tuple, naive.select("k", "pt", "rt", "rid").collect())
    )


def test_salted_join_matches_plain_join(spark):
    from sakura_spark.operators import salted_join

    # skewed left: key 1 dominates
    left = spark.createDataFrame(
        [(1, i) for i in range(200)] + [(2, 900), (3, 901)], "k long, lv long"
    )
    right = spark.createDataFrame([(1, "a"), (2, "b"), (4, "d")], "k long, rv string")
    plain = left.join(right, on="k")
    salted = salted_join(left, right, on=["k"], n_salts=8)
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    # left-outer variant preserves unmatched left rows
    plain_l = left.join(right, on="k", how="left")
    salted_l = salted_join(left, right, on=["k"], n_salts=8, how="left")
    assert sorted(map(tuple, salted_l.collect())) == sorted(
        map(tuple, plain_l.collect())
    )


def test_salted_join_spreads_hot_key(spark):
    from sakura_spark.operators import salted_join

    left = spark.createDataFrame([(1, i) for i in range(64)], "k long, lv long")
    right = spark.createDataFrame([(1, "a")], "k long, rv string")
    out = salted_join(left, right, on=["k"], n_salts=8)
    # the deterministic salt actually uses multiple buckets for one hot key
    import pyspark.sql.functions as F

    salts = (
        left.select(F.pmod(F.xxhash64("k", "lv"), F.lit(8)).alias("s"))
        .distinct()
        .count()
    )
    assert salts > 1 and out.count() == 64


# --- merge_upsert -------------------------------------------------------------


@pytest.fixture(scope="module")
def merge_frames(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, tag string, v double",
    )
    source = spark.createDataFrame(
        [(2, "B", 200.0), (4, "D", 400.0)], "k long, tag string, v double"
    )
    return target, source


def test_merge_upsert_semantics(merge_frames):
    from sakura_spark.operators import merge_upsert

    target, source = merge_frames
    rows = {r["k"]: r for r in merge_upsert(target, source, ["k"]).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert (rows[1]["tag"], rows[1]["v"]) == ("a", 10.0)    # pass-through
    assert (rows[2]["tag"], rows[2]["v"]) == ("B", 200.0)   # matched update
    assert (rows[4]["tag"], rows[4]["v"]) == ("D", 400.0)   # insert


def test_merge_upsert_partial_update_cols(merge_frames):
    """Columns outside update_cols keep the target value on matches and
    are NULL on inserts (MERGE's INSERT sets only provided columns)."""
    from sakura_spark.operators import merge_upsert

    target, source = merge_frames
    rows = {
        r["k"]: r
        for r in merge_upsert(target, source, ["k"], update_cols=["v"]).collect()
    }
    assert rows[2]["tag"] == "b" and rows[2]["v"] == 200.0
    assert rows[4]["tag"] is None and rows[4]["v"] == 400.0


def test_merge_upsert_multi_key(spark):
    from sakura_spark.operators import merge_upsert

    target = spark.createDataFrame(
        [(1, "x", 1.0), (1, "y", 2.0)], "k long, sub string, v double"
    )
    source = spark.createDataFrame([(1, "y", 20.0)], "k long, sub string, v double")
    rows = {(r["k"], r["sub"]): r["v"] for r in merge_upsert(target, source, ["k", "sub"]).collect()}
    assert rows == {(1, "x"): 1.0, (1, "y"): 20.0}


def test_merge_upsert_rejects_unknown_update_col(merge_frames):
    from sakura_spark.operators import merge_upsert

    target, source = merge_frames
    with pytest.raises(ValueError):
        merge_upsert(target, source.withColumnRenamed("v", "w"), ["k"])


def test_merge_upsert_matches_sql_full_join(spark):
    """Differential vs the oracle's FULL JOIN spelling on a bigger frame."""
    from sakura_spark.operators import merge_upsert

    target = spark.range(0, 200).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
        F.concat(F.lit("t"), F.col("id")).alias("tag"),
    )
    source = spark.range(0, 300, 3).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).cast("double").alias("v"),
        F.lit("s").alias("tag"),
    )
    got = {
        (r["k"], r["v"], r["tag"])
        for r in merge_upsert(target, source, ["k"]).collect()
    }
    target.createOrReplaceTempView("mu_t")
    source.createOrReplaceTempView("mu_s")
    exp = {
        (r["k"], r["v"], r["tag"])
        for r in spark.sql(
            """
            SELECT COALESCE(t.k, s.k) AS k,
                   CASE WHEN s.k IS NOT NULL THEN s.v ELSE t.v END AS v,
                   CASE WHEN s.k IS NOT NULL THEN s.tag ELSE t.tag END AS tag
            FROM mu_t t FULL OUTER JOIN mu_s s ON t.k = s.k
            """
        ).collect()
    }
    assert got == exp


# --- scd2_intervalize ---------------------------------------------------------


def test_scd2_compression_and_intervals(spark):
    from sakura_spark.operators import scd2_intervalize

    log = spark.createDataFrame(
        [
            (1, "2024-01-01", 1, "A"),
            (1, "2024-01-05", 2, "A"),   # no-op change: compressed away
            (1, "2024-01-09", 3, "B"),
            (1, "2024-01-12", 4, "A"),   # back to A: NEW regime (not merged)
            (2, "2024-02-01", 5, "X"),
        ],
        "k long, d string, seq long, status string",
    ).withColumn("d", F.to_timestamp("d"))
    out = scd2_intervalize(log, ["k"], "d", ["status"], seq_col="seq")
    rows = sorted(
        (r["k"], r["status"], str(r["valid_from"])[:10], str(r["valid_to"])[:10], r["is_current"])
        for r in out.collect()
    )
    assert rows == [
        (1, "A", "2024-01-01", "2024-01-09", False),
        (1, "A", "2024-01-12", "9999-12-31", True),
        (1, "B", "2024-01-09", "2024-01-12", False),
        (2, "X", "2024-02-01", "9999-12-31", True),
    ]


def test_scd2_event_time_ties_break_on_seq(spark):
    from sakura_spark.operators import scd2_intervalize

    log = spark.createDataFrame(
        [(1, "2024-01-01", 2, "B"), (1, "2024-01-01", 1, "A")],
        "k long, d string, seq long, status string",
    ).withColumn("d", F.to_timestamp("d"))
    out = {r["status"]: r for r in scd2_intervalize(log, ["k"], "d", ["status"], seq_col="seq").collect()}
    assert out["A"]["is_current"] is False   # seq 1 comes first
    assert out["B"]["is_current"] is True
    assert out["A"]["valid_to"] == out["B"]["valid_from"]  # zero-length regime closes exactly


def test_scd2_multi_attr_regimes(spark):
    """A change in ANY attribute opens a regime; unchanged pairs compress."""
    from sakura_spark.operators import scd2_intervalize

    log = spark.createDataFrame(
        [
            (1, "2024-01-01", 1, "A", 10),
            (1, "2024-01-02", 2, "A", 10),  # compressed
            (1, "2024-01-03", 3, "A", 20),  # second attr changed
        ],
        "k long, d string, seq long, status string, tier int",
    ).withColumn("d", F.to_timestamp("d"))
    out = scd2_intervalize(log, ["k"], "d", ["status", "tier"], seq_col="seq")
    assert out.count() == 2


def test_scd2_single_window_partitioning(spark):
    """Both window passes must share ONE key exchange (the Catalyst
    exchange-reuse shape the docstring promises)."""
    from sakura_spark.operators import scd2_intervalize

    log = spark.createDataFrame(
        [(1, "2024-01-01", 1, "A")], "k long, d string, seq long, status string"
    ).withColumn("d", F.to_timestamp("d"))
    plan = (
        scd2_intervalize(log, ["k"], "d", ["status"], seq_col="seq")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1


def test_merge_upsert_delete_clause(spark):
    """Three-clause MERGE: matched tombstones delete, unmatched
    tombstones are ignored (never inserted), everything else behaves as
    the two-clause upsert."""
    from sakura_spark.operators import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, tag string, v double",
    )
    source = spark.createDataFrame(
        [
            (2, "B", 200.0, False),   # matched update
            (3, "X", 0.0, True),      # matched tombstone -> delete
            (4, "D", 400.0, False),   # insert
            (5, "E", 500.0, True),    # unmatched tombstone -> ignored
        ],
        "k long, tag string, v double, del boolean",
    )
    rows = {
        r["k"]: r
        for r in merge_upsert(target, source, ["k"], delete_col="del").collect()
    }
    assert set(rows) == {1, 2, 4}
    assert rows[2]["tag"] == "B" and rows[4]["tag"] == "D"
    # the delete flag never leaks into the output schema
    assert "del" not in rows[1].asDict() and "__s_del" not in rows[1].asDict()


def test_merge_upsert_delete_col_validation(spark):
    from sakura_spark.operators import merge_upsert

    t = spark.createDataFrame([(1, 1.0)], "k long, v double")
    s = spark.createDataFrame([(1, 2.0)], "k long, v double")
    with pytest.raises(ValueError):
        merge_upsert(t, s, ["k"], delete_col="nope")


# ---------------------------------------------------------------------------
# Z-order layout (round-10 session 2)
# ---------------------------------------------------------------------------


def _morton2(x, y, bits=8):
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_key_matches_python_reference(spark):
    from sakura_spark.operators import zorder_key

    pts = [(x, y) for x in (0, 1, 5, 127, 255) for y in (0, 3, 64, 200, 255)]
    df = spark.createDataFrame(pts, "x long, y long")
    out = df.select("x", "y", zorder_key([F.col("x"), F.col("y")], bits=8).alias("z"))
    for r in out.collect():
        assert r.z == _morton2(r.x, r.y), (r.x, r.y)


def test_zorder_key_orders_locality(spark):
    """Points in the same quadrant (high bits equal in both dims) must be
    contiguous under the Z key — the property zone-map pruning relies on."""
    from sakura_spark.operators import zorder_key

    pts = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(pts, "x long, y long")
    rows = (
        df.select("x", "y", zorder_key([F.col("x"), F.col("y")], bits=4).alias("z"))
        .orderBy("z")
        .collect()
    )
    # Walk the curve: every run of 16 consecutive rows is one 4x4 quadrant.
    for q in range(16):
        quad = rows[q * 16 : (q + 1) * 16]
        assert len({(r.x >> 2, r.y >> 2) for r in quad}) == 1


def test_zorder_key_validation(spark):
    from sakura_spark.operators import zorder_key

    with pytest.raises(ValueError):
        zorder_key([F.col("x")], bits=8)
    with pytest.raises(ValueError):
        zorder_key([F.col("x"), F.col("y")], bits=32)


def test_quantize_minmax_bounds(spark):
    from sakura_spark.operators import quantize_minmax

    df = spark.createDataFrame([(v,) for v in range(100, 201)], "v long")
    out = df.select(
        quantize_minmax(F.col("v"), F.lit(100), F.lit(200), bits=8).alias("q")
    )
    qs = [r.q for r in out.collect()]
    assert min(qs) == 0 and max(qs) < 256
    assert qs == sorted(qs)  # monotone


# ---------------------------------------------------------------------------
# Incremental view maintenance (round-10 session 2)
# ---------------------------------------------------------------------------


def test_incremental_agg_matches_recompute(spark):
    from sakura_spark.operators import incremental_agg_apply

    base = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 5), (3, 7)], "k long, v long"
    )
    state = base.groupBy("k").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("sv")
    )
    # delete (1,10) and BOTH rows of key 2's group-mate... key 2 has one
    # row: delete it entirely (group must vanish); insert (4, 100).
    delta = spark.createDataFrame(
        [(1, -1, -10), (2, -1, -5), (4, 1, 100)], "k long, cnt long, sv long"
    )
    delta_agg = delta.groupBy("k").agg(
        F.sum("cnt").alias("cnt"), F.sum("sv").alias("sv")
    )
    got = {
        r.k: (r.cnt, r.sv)
        for r in incremental_agg_apply(state, delta_agg, ["k"], "cnt").collect()
    }
    assert got == {1: (1, 20), 3: (1, 7), 4: (1, 100)}
    assert 2 not in got  # vanished group dropped


def test_incremental_agg_validation(spark):
    from sakura_spark.operators import incremental_agg_apply

    state = spark.createDataFrame([(1, 1)], "k long, cnt long")
    bad = spark.createDataFrame([(1, 1, 2)], "k long, cnt long, extra long")
    with pytest.raises(ValueError):
        incremental_agg_apply(state, bad, ["k"], "cnt")
    with pytest.raises(ValueError):
        incremental_agg_apply(state, state, ["k"], "missing")


# ---------------------------------------------------------------------------
# Point-in-time lookup == interval join (round-10 session 2)
# ---------------------------------------------------------------------------


def test_pit_asof_equals_interval_join(spark):
    """The as-of composition over a contiguous SCD2 dim (zero-length
    regimes filtered) must equal the literal valid_from <= t < valid_to
    join — including a same-timestamp tie that creates a zero-length
    regime."""
    from sakura_spark.operators import asof_join, scd2_intervalize

    changes = spark.createDataFrame(
        [
            (1, ts(0), 1, "A"),
            (1, ts(10), 2, "B"),
            # same-timestamp tie: seq 3 then 4 -> regime "C" is
            # zero-length, "D" starts at t=10 too
            (2, ts(10), 3, "C"),
            (2, ts(10), 4, "D"),
            (2, ts(30), 5, "E"),
        ],
        "k long, t timestamp, seq long, attr string",
    )
    dim = scd2_intervalize(
        changes, keys=["k"], ts_col="t", attr_cols=["attr"], seq_col="seq",
        high_date="2200-01-01 00:00:00",
    ).filter(F.col("valid_from") < F.col("valid_to"))
    facts = spark.createDataFrame(
        [(1, ts(5)), (1, ts(10)), (2, ts(10)), (2, ts(29)), (2, ts(31))],
        "k long, pt timestamp",
    )
    via_asof = asof_join(
        facts,
        dim.select("k", "valid_from", F.col("attr").alias("attr_asof")),
        on="k", left_time="pt", right_time="valid_from",
    ).select("k", "pt", "attr_asof")
    via_interval = facts.join(
        dim,
        on=[
            facts.k == dim.k,
            facts.pt >= dim.valid_from,
            facts.pt < dim.valid_to,
        ],
    ).select(facts.k, "pt", F.col("attr").alias("attr_asof"))
    a = {(r.k, r.pt, r.attr_asof) for r in via_asof.collect()}
    b = {(r.k, r.pt, r.attr_asof) for r in via_interval.collect()}
    assert a == b
    assert (2, ts(10), "D") in a  # the tie resolves to the LAST change


# ---------------------------------------------------------------------------
# Snapshot diff (CDC extract) and the merge round-trip law
# ---------------------------------------------------------------------------


def test_snapshot_diff_classifies_and_roundtrips(spark):
    """diff(old, new) yields exactly the I/U/D changelog, and applying it
    back to old with the three-clause merge reproduces new exactly."""
    from sakura_spark.operators import merge_upsert, snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, None, 40.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),          # unchanged: absent from the log
         (2, "B", 20.0),          # U (value change)
         (4, "d", 40.0),          # U (NULL -> value, null-safe compare)
         (5, "e", 50.0)],         # I  (3 deleted)
        "k long, s string, v double",
    )
    log = snapshot_diff(old, new, ["k"])
    got = {r.k: (r.op, r.s, r.v) for r in log.collect()}
    assert got == {
        2: ("U", "B", 20.0),
        3: ("D", None, None),
        4: ("U", "d", 40.0),
        5: ("I", "e", 50.0),
    }
    applied = merge_upsert(
        old,
        log.withColumn("__del", F.col("op") == F.lit("D")).drop("op"),
        ["k"],
        delete_col="__del",
    )
    assert sorted(map(tuple, applied.collect())) == sorted(map(tuple, new.collect()))


def test_snapshot_diff_validation(spark):
    from sakura_spark.operators import snapshot_diff

    a = spark.createDataFrame([(1, 2)], "k long, v long")
    b = spark.createDataFrame([(1, "x")], "k long, other string")
    with pytest.raises(ValueError):
        snapshot_diff(a, b, ["k"])


# ---------------------------------------------------------------------------
# Z-set join IVM (bilinearity) and changelog compaction
# ---------------------------------------------------------------------------


def test_zset_join_multiplies_and_consolidate_annihilates(spark):
    """zset_join multiplies signed multiplicities per joined pair;
    consolidation cancels matched insert+delete and drops zeros."""
    from sakura_spark.operators import zset_consolidate, zset_join

    r = spark.createDataFrame(
        [(1, "a", 1), (1, "a", -1), (2, "b", 2)], "k long, rv string, mult long"
    )
    s = spark.createDataFrame([(1, "x", 1), (2, "y", 3)], "k long, sv string, mult long")
    j = zset_join(r, s, "k")
    got = {(row.k, row.rv, row.sv): row.mult for row in j.collect()}
    # (1,a,x) appears twice with mult +1 and -1; (2,b,y) with 2*3
    assert got[(2, "b", "y")] == 6
    out = zset_consolidate(j, ["k", "rv", "sv"])
    rows = {(row.k, row.rv, row.sv): row.mult for row in out.collect()}
    assert rows == {(2, "b", "y"): 6}  # the +1/-1 pair annihilated


def test_zset_join_delta_identity_bilinear(spark):
    """(R+dR) x (S+dS) == RxS + dRxS + RxdS + dRxdS after consolidation —
    the identity rel_ivm_join_delta relies on, checked on a fixture
    where every term is non-trivial."""
    from sakura_spark.operators import zset_consolidate, zset_join

    r0 = spark.createDataFrame([(1, "r1", 1), (2, "r2", 1)], "k long, rv string, mult long")
    dr = spark.createDataFrame(
        [(2, "r2", -1), (2, "R2", 1), (3, "r3", 1)], "k long, rv string, mult long"
    )
    s0 = spark.createDataFrame([(1, "s1", 1), (2, "s2", 1), (3, "s3", 1)], "k long, sv string, mult long")
    ds = spark.createDataFrame(
        [(1, "s1", -1), (1, "S1", 1)], "k long, sv string, mult long"
    )
    cols = ["k", "rv", "sv"]
    full = zset_consolidate(
        zset_join(zset_consolidate(r0.unionByName(dr), ["k", "rv"]),
                  zset_consolidate(s0.unionByName(ds), ["k", "sv"]), "k"),
        cols,
    )
    delta = (
        zset_join(r0, s0, "k")
        .unionByName(zset_join(dr, s0, "k"))
        .unionByName(zset_join(r0, ds, "k"))
        .unionByName(zset_join(dr, ds, "k"))
    )
    incremental = zset_consolidate(delta, cols)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, incremental.collect()))


def test_changelog_compact_last_wins_and_tombstones(spark):
    from sakura_spark.operators import changelog_compact

    log = spark.createDataFrame(
        [
            (1, "I", 10, "a"),
            (2, "U", 10, "b"),   # latest for key 10
            (1, "I", 20, "c"),
            (3, "D", 20, "c"),   # key 20 deleted
            (1, "I", 30, "d"),   # untouched
        ],
        "seq long, op string, k long, v string",
    )
    out = {(r.k, r.v) for r in changelog_compact(log, ["k"], "seq").collect()}
    assert out == {(10, "b"), (30, "d")}


def test_asof_join_tolerance_nulls_stale_matches(spark):
    """tolerance='...' nulls the whole payload when the nearest match is
    too old — never falls back to an older row (pandas.merge_asof
    semantics)."""
    import datetime

    from sakura_spark.operators import asof_join

    t0 = datetime.datetime(2024, 1, 10)

    def d(days):
        return t0 + datetime.timedelta(days=days)

    left = spark.createDataFrame(
        [(1, 7, d(0)), (2, 7, d(5)), (3, 8, d(0))], "eid long, k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(7, d(-1), "fresh-for-eid1"), (8, d(-10), "stale")],
        "k long, rts timestamp, pay string",
    )
    out = asof_join(
        left, right, on="k", left_time="ts", right_time="rts", tolerance="3 days"
    )
    rows = {r.eid: (r.pay, r.rts) for r in out.collect()}
    assert rows[1] == ("fresh-for-eid1", d(-1))   # 1 day old, within 3
    assert rows[2] == (None, None)                # 6 days old: nulled, no fallback
    assert rows[3] == (None, None)                # 10 days old: nulled


def test_global_running_sum_matches_single_node_window(spark):
    """The distributed prefix sum (range partition + pinned placement +
    offsets) equals the single-partition window cumsum exactly."""
    from pyspark.sql import Window

    from sakura_spark.operators import global_running_sum

    df = spark.range(1000).select(
        (F.col("id") * 37 % 1000).alias("o"),
        ((F.col("id") % 7) - 3).cast("long").alias("v"),
    )
    got = {
        r.o: r.running
        for r in global_running_sum(df, ["o"], "v", num_partitions=8).collect()
    }
    w = Window.orderBy("o").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {r.o: r.running for r in df.withColumn("running", F.sum("v").over(w)).collect()}
    assert got == want


def test_interval_concurrency_sweep(spark):
    """Boundary sweep: overlap counted exactly; start==end intervals net
    to zero at their timestamp."""
    import datetime

    from sakura_spark.operators import interval_concurrency

    t0 = datetime.datetime(2024, 1, 1)

    def m(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    iv = spark.createDataFrame(
        [(m(0), m(30)), (m(10), m(20)), (m(10), m(10)), (m(40), m(50))],
        "s timestamp, e timestamp",
    )
    rows = {r.ts: (r.net, r.concurrent) for r in interval_concurrency(iv, "s", "e").collect()}
    assert rows[m(0)] == (1, 1)
    assert rows[m(10)] == (1, 2)   # +1 (second) +1/-1 (point interval) = net 1
    assert rows[m(20)] == (-1, 1)
    assert rows[m(30)] == (-1, 0)
    assert rows[m(40)] == (1, 1)
    assert rows[m(50)] == (-1, 0)


def _xy2d_ref(n_bits, x, y):
    """Pure-Python Hilbert xy2d (the Wikipedia/Hacker's Delight walk) —
    the independent reference both engine spellings must match."""
    d = 0
    s = 1 << (n_bits - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_key_matches_reference_and_is_bijective(spark):
    import random

    from sakura_spark.operators import hilbert_key_2d

    random.seed(7)
    pts = [(random.randrange(256), random.randrange(256)) for _ in range(300)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {(r.x, r.y): r.h for r in hilbert_key_2d(df, "x", "y", bits=8).collect()}
    assert all(got[(x, y)] == _xy2d_ref(8, x, y) for x, y in pts)
    # bijection on the full 4-bit grid: every curve position hit once
    grid = [(x, y) for x in range(16) for y in range(16)]
    hs = sorted(
        r.h
        for r in hilbert_key_2d(
            spark.createDataFrame(grid, "x long, y long"), "x", "y", bits=4
        ).collect()
    )
    assert hs == list(range(256))


def test_hilbert_oracle_ctes_match_reference():
    """The generated DuckDB CTE chain computes the same curve."""
    import random

    import duckdb

    from sakura_spark.operators import hilbert_oracle_ctes

    random.seed(11)
    pts = [(random.randrange(256), random.randrange(256)) for _ in range(200)]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pts AS SELECT * FROM (VALUES "
        + ",".join(f"({x},{y})" for x, y in pts)
        + ") t(x, y)"
    )
    sql = (
        "WITH h8 AS (SELECT x, y, x AS hx, y AS hy, CAST(0 AS BIGINT) AS hd "
        "FROM pts), " + hilbert_oracle_ctes(8) + " SELECT x, y, hd FROM h0"
    )
    assert all(hd == _xy2d_ref(8, x, y) for x, y, hd in con.execute(sql).fetchall())


def test_hilbert_adjacency(spark):
    """The property Z-order lacks: consecutive curve positions are always
    grid-adjacent (Manhattan distance exactly 1) — no jumps."""
    from sakura_spark.operators import hilbert_key_2d

    grid = [(x, y) for x in range(16) for y in range(16)]
    rows = hilbert_key_2d(
        spark.createDataFrame(grid, "x long, y long"), "x", "y", bits=4
    ).collect()
    by_d = {r.h: (r.x, r.y) for r in rows}
    for d in range(255):
        (x1, y1), (x2, y2) = by_d[d], by_d[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, (d, by_d[d], by_d[d + 1])


def _hilbert_nd_ref(bits, coords):
    """Pure-Python Skilling AxesToTranspose + interleave — the published
    reference walk the Spark/DuckDB twins must reproduce bit-for-bit."""
    X = list(coords)
    n = len(X)
    q = 1 << (bits - 1)
    while q > 1:
        p = q - 1
        for i in range(n):
            if X[i] & q:
                X[0] ^= p
            else:
                t = (X[0] ^ X[i]) & p
                X[0] ^= t
                X[i] ^= t
        q >>= 1
    for i in range(1, n):
        X[i] ^= X[i - 1]
    t = 0
    q = 1 << (bits - 1)
    while q > 1:
        if X[n - 1] & q:
            t ^= q - 1
        q >>= 1
    X = [x ^ t for x in X]
    h = 0
    for lvl in range(bits):
        for i in range(n):
            h |= ((X[i] >> lvl) & 1) << (lvl * n + (n - 1 - i))
    return h


def test_hilbert_nd_matches_reference(spark):
    """hilbert_key_nd == the published Skilling walk on random 3-D and
    4-D points."""
    import random

    from sakura_spark.operators import hilbert_key_nd

    random.seed(12)
    for n, bits in ((3, 8), (4, 6)):
        side = 1 << bits
        pts = [tuple(random.randrange(side) for _ in range(n)) for _ in range(300)]
        cols = [f"x{i}" for i in range(n)]
        df = spark.createDataFrame(pts, ", ".join(f"{c} long" for c in cols))
        got = {
            tuple(r[c] for c in cols): r["h"]
            for r in hilbert_key_nd(df, cols, bits=bits).collect()
        }
        assert got == {p: _hilbert_nd_ref(bits, p) for p in pts}


def test_hilbert_nd_adjacency_and_bijection(spark):
    """The n-D curve property: exhaustively over the 8x8x8 grid, the key
    is a bijection onto [0, 512) and consecutive keys are grid-adjacent
    (Manhattan distance exactly 1) — no Z-order jumps in any dimension."""
    from sakura_spark.operators import hilbert_key_nd

    grid = [(x, y, z) for x in range(8) for y in range(8) for z in range(8)]
    rows = hilbert_key_nd(
        spark.createDataFrame(grid, "x long, y long, z long"),
        ["x", "y", "z"],
        bits=3,
    ).collect()
    by_d = {r.h: (r.x, r.y, r.z) for r in rows}
    assert sorted(by_d) == list(range(512))
    for d in range(511):
        a, b = by_d[d], by_d[d + 1]
        assert sum(abs(i - j) for i, j in zip(a, b)) == 1, (d, a, b)


def test_hilbert_nd_oracle_ctes_duckdb():
    """The generated DuckDB CTE chain reproduces the reference walk."""
    import random

    import duckdb

    from sakura_spark.operators import hilbert_nd_oracle_ctes

    random.seed(13)
    pts = [
        (random.randrange(64), random.randrange(64), random.randrange(64))
        for _ in range(200)
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pts AS SELECT * FROM (VALUES "
        + ",".join(f"({x},{y},{z})" for x, y, z in pts)
        + ") t(x, y, z)"
    )
    sql = (
        "WITH g_in AS (SELECT x, y, z, x AS hx0, y AS hy_unused, "
        "y AS hx1, z AS hx2 FROM pts), "
        + hilbert_nd_oracle_ctes(3, bits=6)
        + " SELECT x, y, z, hd FROM g_fin"
    )
    assert all(
        hd == _hilbert_nd_ref(6, (x, y, z))
        for x, y, z, hd in con.execute(sql).fetchall()
    )


def test_scd2_apply_equals_rebuild(spark):
    """apply(build(history), batch) == build(history + batch) — including
    the three tricky cases: a no-op first batch regime COMPRESSES back
    into the existing current row (original valid_from preserved), a
    real change closes the current row at the first differing ts, a
    brand-new key builds from the batch alone, an untouched key passes
    through bit-identically."""
    import datetime

    from sakura_spark.operators import scd2_apply, scd2_intervalize

    t0 = datetime.datetime(2024, 1, 1)

    def d(days):
        return t0 + datetime.timedelta(days=days)

    history = spark.createDataFrame(
        [
            (1, d(0), 10, "A"), (1, d(5), 11, "B"),   # key 1: A then B
            (2, d(0), 20, "X"),                        # key 2: untouched by batch
            (3, d(0), 30, "P"),                        # key 3: no-op batch change
        ],
        "k long, ts timestamp, seq long, st string",
    )
    batch = spark.createDataFrame(
        [
            (1, d(10), 12, "C"),   # real change: closes B at d(10)
            (3, d(10), 31, "P"),   # same attrs: must compress away
            (4, d(10), 40, "N"),   # brand-new key
        ],
        "k long, ts timestamp, seq long, st string",
    )
    kw = dict(keys=["k"], ts_col="ts", attr_cols=["st"], seq_col="seq",
              high_date="2200-01-01 00:00:00")
    dim = scd2_intervalize(history, **kw)
    applied = scd2_apply(dim, batch, **kw)
    rebuilt = scd2_intervalize(history.unionByName(batch), **kw)
    assert sorted(map(tuple, applied.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )
    rows = {(r.k, r.st): (r.valid_from, r.valid_to, r.is_current)
            for r in applied.collect()}
    assert rows[(3, "P")][0] == d(0) and rows[(3, "P")][2]  # compressed, still current
    assert rows[(1, "B")] == (d(5), d(10), False)           # closed at the change
    assert rows[(4, "N")][2] and rows[(2, "X")][2]


def test_scd2_apply_late_data_errors_by_default(spark):
    """The late-data contract is ENFORCED: a batch row with ts <= its
    key's current valid_from fails the job loudly (in-plan raise_error,
    naming the key), instead of silently producing a wrong dimension."""
    import datetime

    import pytest

    from sakura_spark.operators import scd2_apply, scd2_intervalize

    t0 = datetime.datetime(2024, 1, 1)

    def d(days):
        return t0 + datetime.timedelta(days=days)

    kw = dict(keys=["k"], ts_col="ts", attr_cols=["st"], seq_col="seq",
              high_date="2200-01-01 00:00:00")
    history = spark.createDataFrame(
        [(5, d(0), 10, "A"), (5, d(4), 11, "B"), (5, d(8), 12, "C")],
        "k long, ts timestamp, seq long, st string",
    )
    dim = scd2_intervalize(history, **kw)
    late_batch = spark.createDataFrame(
        [(5, d(2), 50, "Z")], "k long, ts timestamp, seq long, st string"
    )
    with pytest.raises(Exception, match="late batch row"):
        scd2_apply(dim, late_batch, **kw).collect()
    with pytest.raises(ValueError):
        scd2_apply(dim, late_batch, on_late="drop", **kw)
    # Equality with the current valid_from is also late (strictly-after).
    eq_batch = spark.createDataFrame(
        [(5, d(8), 50, "Z")], "k long, ts timestamp, seq long, st string"
    )
    with pytest.raises(Exception, match="late batch row"):
        scd2_apply(dim, eq_batch, **kw).collect()
    # A clean batch still passes through the guard untouched.
    ok = scd2_apply(
        dim,
        spark.createDataFrame(
            [(5, d(9), 50, "Z")], "k long, ts timestamp, seq long, st string"
        ),
        **kw,
    )
    assert {(r.st, r.is_current) for r in ok.collect()} == {
        ("A", False), ("B", False), ("C", False), ("Z", True)
    }


def test_scd2_apply_on_late_rebuild_equals_full_rebuild(spark):
    """on_late='rebuild' re-intervalizes touched keys from their
    retained regimes: the output equals the full rebuild over
    history + batch (fixture has no compressed no-op rows, so the
    retained regimes ARE the raw history); non-late touched keys
    reproduce their fast-path output bit-for-bit and untouched keys
    pass through."""
    import datetime

    from sakura_spark.operators import scd2_apply, scd2_intervalize

    t0 = datetime.datetime(2024, 1, 1)

    def d(days):
        return t0 + datetime.timedelta(days=days)

    kw = dict(keys=["k"], ts_col="ts", attr_cols=["st"], seq_col="seq",
              high_date="2200-01-01 00:00:00")
    history = spark.createDataFrame(
        [
            (5, d(0), 10, "A"), (5, d(4), 11, "B"), (5, d(8), 12, "C"),
            (6, d(0), 20, "X"),                      # non-late batch key
            (7, d(0), 30, "Q"),                      # untouched key
        ],
        "k long, ts timestamp, seq long, st string",
    )
    dim = scd2_intervalize(history, **kw)
    batch = spark.createDataFrame(
        [
            (5, d(2), 50, "Z"),    # LATE: lands between A and B
            (5, d(12), 51, "D"),   # same key, on-time row: rides the rebuild
            (6, d(3), 60, "Y"),    # non-late: fast path
        ],
        "k long, ts timestamp, seq long, st string",
    )
    applied = scd2_apply(dim, batch, on_late="rebuild", **kw)
    rebuilt = scd2_intervalize(history.unionByName(batch), **kw)
    assert sorted(
        (r.k, r.st, r.valid_from, r.valid_to, r.is_current)
        for r in applied.collect()
    ) == sorted(
        (r.k, r.st, r.valid_from, r.valid_to, r.is_current)
        for r in rebuilt.collect()
    )
    rows = {(r.k, r.st): (r.valid_from, r.valid_to, r.is_current)
            for r in applied.collect()}
    assert rows[(5, "A")] == (d(0), d(2), False)    # closed by the late row
    assert rows[(5, "Z")] == (d(2), d(4), False)    # late regime inserted
    assert rows[(5, "D")][2]                         # on-time row is current
    assert rows[(6, "Y")][2] and rows[(7, "Q")][2]
