"""Composite operators Spark lacks natively: as-of join, range join.

Both are built from DataFrame primitives (SURVEY §7's preference order:
compose built-ins before reaching for Pandas UDFs), with shapes chosen for
100 TB:

* as-of join — the union-and-window trick: interleave left (probe) and
  right (reference) rows on (key, time), one window sort per key carries
  the latest reference payload forward, then keep probe rows. ONE shuffle
  on the key, no per-group pandas, no row explosion — versus the naive
  inequality join (quadratic) or merge_asof-per-group (Python).
* range join — equi-bucketize the range dimension, join on (key, bucket)
  including neighbour buckets, then apply the exact range predicate.
  Turns an inequality join into an equi-join Catalyst can hash-partition;
  bucket width trades shuffle fan-out (each left row lands in
  ceil(range/width)+1 buckets) against in-bucket filter selectivity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.sql.types import TimestampNTZType


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    n_salts: int = 16,
    how: str = "inner",
    salt_from: list[str] | None = None,
) -> DataFrame:
    """Skew-resistant equi-join: spread each hot key of ``left`` (the big,
    skewed side) over ``n_salts`` shuffle partitions by joining on
    (keys + salt), with ``right`` replicated once per salt value.

    The salt is deterministic — pmod(xxhash64(salt_from ?: all left
    columns), n_salts) — so results are reproducible run-to-run. Rows of a
    hot key scatter across n_salts reducers instead of one straggler;
    the cost is a bounded n_salts× fan-out of the right side (use only
    when right is small relative to the skew, and how ∈ inner/left —
    semantics are identical to the plain join because every left row
    still meets every right row of its key exactly once, in exactly one
    salt bucket).

    AQE's skew-join split (on by default in our sessions) handles most
    sort-merge skew at runtime; explicit salting remains the tool when
    AQE can't help — skewed broadcast-ineligible joins inside a single
    stage, or engines/configs without AQE. Exposed for parity with the
    100 TB playbook in SCALE.md.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner' or 'left'")
    src = salt_from or [c for c in left.columns]
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in src]), F.lit(n_salts))
    l = left.withColumn("__salt", salt)
    r = right.withColumn(
        "__salt",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(n_salts - 1).cast("long"))
        ),
    )
    return l.join(r, on=list(on) + ["__salt"], how=how).drop("__salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    direction: str = "backward",
    suffix: str = "_r",
    tolerance: str | None = None,
) -> DataFrame:
    """For each left row, attach the right row with the greatest
    ``right_time`` <= ``left_time`` (direction='backward'; 'forward' takes
    the smallest >=) within the same ``on`` key. Right payload columns are
    suffixed on collision. Left rows with no match keep NULL payloads
    (left-outer asof semantics, matching pandas.merge_asof / ASOF JOIN).
    ``tolerance`` (an SQL INTERVAL string, e.g. ``'7 days'``) bounds the
    match distance like pandas.merge_asof(tolerance=...): a nearest match
    farther than the tolerance becomes a no-match (NULL payload), never a
    fallback to an older row.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    payload = [c for c in right.columns if c not in (on, right_time)]
    renames = {c: (c + suffix if c in left.columns else c) for c in payload + [right_time]}

    lt = left.withColumn("__t", F.col(left_time)).withColumn("__is_left", F.lit(1))
    # All payload columns ride in ONE struct so the carried values always
    # come from the SAME matched right row: carrying each column
    # independently with last(ignorenulls) would back-fill a NULL payload
    # value from an older right row, stitching columns across rows
    # (pandas.merge_asof / ASOF JOIN keep the matched row's NULL).
    rt = right.select(
        F.col(on),
        F.col(right_time).alias("__t"),
        F.struct(
            *[F.col(c).alias(renames[c]) for c in payload],
            F.col(right_time).alias(renames[right_time]),
        ).alias("__rpay"),
    ).withColumn("__is_left", F.lit(0))

    combined = lt.unionByName(rt, allowMissingColumns=True)  # left rows: __rpay NULL
    if direction == "backward":
        # Reference rows sort before probe rows at equal time (<= semantics).
        w = W.partitionBy(on).orderBy(F.col("__t").asc(), F.col("__is_left").asc())
    else:
        w = W.partitionBy(on).orderBy(F.col("__t").desc(), F.col("__is_left").asc())
    w = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    carried = F.last(F.col("__rpay"), ignorenulls=True).over(w).alias("__carried")
    out = combined.select(
        *[F.col(c) for c in lt.columns if c not in ("__t", "__is_left")],
        F.col("__is_left"),
        carried,
    ).filter(F.col("__is_left") == 1)
    if tolerance is not None:
        # pandas.merge_asof(tolerance=...) semantics: the asof MATCH is
        # still the nearest preceding (following) row — a match farther
        # than the tolerance nulls the whole payload rather than falling
        # back to an older row. Nulling the STRUCT keeps all payload
        # columns from the same decision (the same reason the carry is a
        # struct).
        t_r = F.col("__carried")[renames[right_time]]
        if direction == "backward":
            ok = t_r >= F.col(left_time) - F.expr(f"INTERVAL {tolerance}")
        else:
            ok = t_r <= F.col(left_time) + F.expr(f"INTERVAL {tolerance}")
        out = out.withColumn(
            "__carried", F.when(ok, F.col("__carried"))
        )
    # Unpack: field access on a NULL struct yields NULL (no-match rows).
    return out.select(
        *[F.col(c) for c in left.columns],
        *[F.col("__carried")[renames[c]].alias(renames[c]) for c in payload + [right_time]],
    )


def epoch_micros(df: DataFrame, col: str) -> Column:
    """``df[col]`` as exact integer microseconds since the epoch. A
    TIMESTAMP_NTZ reads as UTC wall-clock time, the way ``unix_timestamp``
    and DuckDB's ``epoch()`` read it, whatever the session time zone."""
    if isinstance(df.schema[col].dataType, TimestampNTZType):
        epoch = F.expr("TIMESTAMP_NTZ'1970-01-01 00:00:00'")
        return F.timestamp_diff("MICROSECOND", epoch, F.col(col))
    return F.unix_micros(F.col(col))


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    lower: Column | int,
    upper: Column | int,
    bucket_seconds: int,
) -> DataFrame:
    """Inner join of left and right rows sharing ``on`` with
    ``right_time - left_time`` in [lower, upper] seconds, via equi-bucketing.

    Left rows are replicated into every bucket their window overlaps
    (sequence over the bucket span — bounded by (upper-lower)/bucket + 2),
    right rows land in exactly one bucket, then a hash join on
    (key, bucket) + the exact predicate. No inequality-join nested loop.

    No dedup pass is needed: a right row has exactly ONE bucket, so each
    qualifying (left, right) pair forms exactly once — inner-join bag
    semantics, and no post-join shuffle.

    Times compare in exact integer microseconds, so a pair a fraction of a
    second outside the window does not match.
    """
    micros = 1_000_000
    lo, hi = ((F.lit(b) if isinstance(b, int) else b).cast("long") * micros
              for b in (lower, upper))
    bucket_us = bucket_seconds * micros

    lb = left.withColumn("__lus", epoch_micros(left, left_time)).withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor((F.col("__lus") + lo) / bucket_us).cast("long"),
                F.floor((F.col("__lus") + hi) / bucket_us).cast("long"),
            )
        ),
    )
    rb = right.withColumn("__rus", epoch_micros(right, right_time))
    rb = rb.withColumn("__bucket", F.floor(F.col("__rus") / bucket_us).cast("long"))
    collisions = (set(left.columns) & set(right.columns)) - {on}
    rb = rb.select(
        F.col(on),
        "__bucket",
        "__rus",
        *[F.col(c).alias(c + "_r" if c in collisions else c) for c in right.columns if c != on],
    )
    joined = lb.join(rb, on=[on, "__bucket"])
    delta = F.col("__rus") - F.col("__lus")
    return joined.filter((delta >= lo) & (delta <= hi)).drop("__bucket", "__lus", "__rus")


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    update_cols: list[str] | None = None,
    delete_col: str | None = None,
    validate: bool = False,
) -> DataFrame:
    """MERGE INTO / upsert (the Delta/Iceberg `WHEN MATCHED THEN UPDATE,
    WHEN NOT MATCHED THEN INSERT` apply step, expressed as a pure
    DataFrame transform): rows of ``target`` whose key matches a
    ``source`` row take the source's ``update_cols`` (all non-key source
    columns by default); unmatched source rows are inserted; unmatched
    target rows pass through. ``delete_col`` names an optional boolean
    column of ``source`` — the `WHEN MATCHED AND s.<col> THEN DELETE`
    clause: matched target rows whose source row carries true are
    REMOVED from the output (a CDC tombstone); an unmatched tombstone is
    ignored, never inserted — the three-clause MERGE a CDC apply needs.
    ``source`` must be key-unique (CDC batches
    are; enforce upstream with dedup_exact otherwise) — with duplicate
    source keys a real MERGE raises, and this plan would multiply rows.
    ``validate=True`` enforces that contract in-plan (the Delta/Iceberg
    parity mode): a window count over the source keys feeds
    ``raise_error``, so a duplicate-key or NULL-key source row fails the
    job loudly instead of silently multiplying/NULL-keying rows. The
    check costs one extra shuffle of the (small) CDC batch only — the
    target side is untouched — so it is opt-in for hot paths that
    already dedup upstream.

    Match state is carried by explicit per-side existence markers
    (constant-true columns that survive the full outer join as
    NULL/true), never inferred from key NULL-ness — so a source row
    whose key is genuinely NULL behaves like a real MERGE: it is
    UNMATCHED (NULL never equi-joins) and inserts, rather than decaying
    into a mostly-NULL pass-through.

    Shape: ONE full outer equi-join on the keys + per-column coalesce —
    the canonical copy-on-write apply, a single key shuffle of each side
    (full outer is the one join type Spark never broadcasts, so the
    shuffle is structural; when the target is bucketed/pre-partitioned
    by key — the layout a 100 TB upsert target should have — its
    exchange elides and only the CDC batch moves). No window, no driver
    state, no row explosion.
    """
    if update_cols is None:
        update_cols = [
            c for c in source.columns if c not in keys and c != delete_col
        ]
    if delete_col is not None and delete_col not in source.columns:
        raise ValueError(f"delete_col {delete_col!r} not in source")
    missing = [c for c in update_cols if c not in target.columns]
    if missing:
        raise ValueError(f"update_cols not in target: {missing}")
    if validate:
        null_key = None
        for k in keys:
            n = F.col(k).isNull()
            null_key = n if null_key is None else (null_key | n)
        dup = F.count(F.lit(1)).over(W.partitionBy(*keys)) > 1
        source = source.withColumn(
            "__merge_valid",
            F.when(
                null_key,
                F.raise_error(
                    F.concat(
                        F.lit("merge_upsert: NULL source key in ("),
                        F.lit(", ".join(keys)),
                        F.lit(")"),
                    )
                ),
            )
            .when(
                dup,
                F.raise_error(
                    F.concat(
                        F.lit("merge_upsert: duplicate source key "),
                        F.concat_ws(
                            "|", *[F.col(k).cast("string") for k in keys]
                        ),
                    )
                ),
            )
            .otherwise(F.lit(True)),
        ).filter(F.col("__merge_valid")).drop("__merge_valid")
    t = target.select(
        F.lit(True).alias("__t_exists"),
        *[F.col(k).alias(f"__tk_{k}") for k in keys],
        *[F.col(c).alias(f"__t_{c}") for c in target.columns if c not in keys],
    )
    s = source.select(
        F.lit(True).alias("__s_exists"),
        *[F.col(k).alias(f"__sk_{k}") for k in keys],
        *[F.col(c).alias(f"__s_{c}") for c in update_cols],
        *(
            [F.col(delete_col).cast("boolean").alias("__s_del")]
            if delete_col
            else []
        ),
    )
    cond = None
    for k in keys:
        c = F.col(f"__tk_{k}") == F.col(f"__sk_{k}")
        cond = c if cond is None else (cond & c)
    joined = t.join(s, cond, "full_outer")
    was_source = F.col("__s_exists").isNotNull()
    was_target = F.col("__t_exists").isNotNull()
    matched = was_source & was_target
    if delete_col is not None:
        tombstone = F.coalesce(F.col("__s_del"), F.lit(False))
        # matched tombstones delete; unmatched tombstones never insert
        joined = joined.filter(~tombstone | (~matched & was_target))
    out_cols = []
    for c in target.columns:
        if c in keys:
            # a NULL-key insert keeps its NULL key: take the target key
            # only when the target row exists, else the source key as-is.
            out_cols.append(
                F.when(was_target, F.col(f"__tk_{c}"))
                .otherwise(F.col(f"__sk_{c}"))
                .alias(c)
            )
        elif c in update_cols:
            # source value on update AND insert; target value on
            # pass-through.
            out_cols.append(
                F.when(was_source, F.col(f"__s_{c}"))
                .otherwise(F.col(f"__t_{c}"))
                .alias(c)
            )
        else:
            out_cols.append(F.col(f"__t_{c}").alias(c))
    return joined.select(*out_cols)


def scd2_intervalize(
    changes: DataFrame,
    keys: list[str],
    ts_col: str,
    attr_cols: list[str],
    seq_col: str | None = None,
    high_date: str = "9999-12-31 00:00:00",
) -> DataFrame:
    """Type-2 slowly-changing-dimension build: turn an append-only change
    log (key, event time, attributes) into validity intervals — one row
    per attribute REGIME, with `valid_from` / `valid_to` / `is_current`.
    Consecutive log rows whose attributes are unchanged are compressed
    away (the defining SCD2 behavior: a no-op change does not open a new
    version); `valid_to` of the last regime is the sentinel ``high_date``
    (the standard warehouse spelling — NULL-free, so every interval
    predicate is a plain comparison). ``seq_col`` breaks event-time ties
    deterministically. The default ``high_date`` is the warehouse-standard
    9999 sentinel; callers that collect through Arrow/pandas should pass
    one inside pandas' datetime64[ns] range (< 2262), e.g. 2200-01-01.

    Shape: two window passes over ONE hash partitioning by key (lag to
    detect regime starts, lead on the compressed rows for interval ends)
    — Catalyst reuses the exchange, so it's a single shuffle. Per-key
    history is the window unit; at 100 TB keys are many and histories
    bounded (the per-entity change count), so no reducer sees more than
    one entity's log — the safe side of the skewed-window rule.
    """
    order = [F.col(ts_col)] + ([F.col(seq_col)] if seq_col else [])
    w = W.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    changed = None
    for c in attr_cols:
        neq = ~F.lag(F.col(c)).over(w).eqNullSafe(F.col(c))
        changed = neq if changed is None else (changed | neq)
    first = F.row_number().over(w) == 1
    kept = (
        changes.select(*keys, ts_col, *( [seq_col] if seq_col else [] ), *attr_cols)
        .withColumn("__keep", first | changed)
        .filter(F.col("__keep"))
        .drop("__keep")
    )
    w2 = W.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    nxt = F.lead(F.col(ts_col)).over(w2)
    return kept.select(
        *keys,
        *attr_cols,
        F.col(ts_col).alias("valid_from"),
        F.coalesce(nxt, F.lit(high_date).cast("timestamp")).alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


def scd2_apply(
    dim: DataFrame,
    batch: DataFrame,
    keys: list[str],
    ts_col: str,
    attr_cols: list[str],
    seq_col: str | None = None,
    high_date: str = "9999-12-31 00:00:00",
    on_late: str = "error",
) -> DataFrame:
    """Incremental Type-2 SCD maintenance — the NIGHTLY apply step that
    closes current rows and opens new versions, without rebuilding the
    dimension: given an existing :func:`scd2_intervalize` output ``dim``
    and a new observation ``batch`` (key, event time, attributes; every
    batch timestamp strictly AFTER the key's current ``valid_from`` —
    the standard warehouse SCD2 contract), returns the dimension as a
    full rebuild over history+batch would — the law the rel_scd2_apply
    entry proves under the driver hash.

    ``on_late`` routes LATE data (a batch row whose ts <= its key's
    current ``valid_from`` — i.e. landing inside or before the current
    regime, where the fast path would silently produce a wrong
    dimension):

    - ``'error'`` (default): the contract is ENFORCED in-plan — the
      minilog carries a stub marker, a whole-partition window computes
      each key's current ``valid_from`` (the stub's ts), and the
      event-time column is wrapped in a raise_error guard, so a
      violating batch fails the job loudly at execution. The detector
      is JOIN-FREE: the window runs over the same hash partitioning the
      intervalize windows already use (Catalyst reuses the exchange),
      and the guard rides the ts column those windows evaluate anyway —
      no extra driver action, no extra shuffle.
    - ``'rebuild'``: every TOUCHED key is re-intervalized from its
      RETAINED regimes — each regime replayed as a log row at its
      ``valid_from`` (regime order preserved via a large-negative
      ordinal seq, so replayed rows also sort before any batch row
      sharing the same timestamp — PRECONDITION: batch ``seq_col``
      values must be > -2**40, the replay ordinals' offset; a batch
      whose own seq values sort at or below -2**40 would silently
      invert tie-breaking against the replayed regimes. Real commit
      sequences are non-negative, so this bounds nothing in practice,
      but it is a hard contract, not an implication) and unioned with
      the batch. Late keys
      get their per-key history rebuild; non-late keys reproduce the
      fast-path output bit-for-bit (intervalize is order-insensitive
      and idempotent on its own output-as-log, and a non-late batch row
      never ties a replayed regime's timestamp), so no late-key join is
      needed at all. Note the rebuild is over the dimension's RETAINED
      history: log rows compressed away as no-op changes are not
      resurrectable (inherent to any SCD2 store that keeps only
      regimes), so the law is apply ≡ intervalize(replay(dim) ∪ batch)
      — exact whenever the dimension is the system of record.

    Plan: untouched keys pass through by anti-join (zero rewrite — at
    100 TB the nightly batch touches a sliver of the dimension);
    touched keys' CLOSED rows pass through as-is (their regimes are
    final; compression is local to consecutive log rows, so nothing
    before the current regime can change); each touched key's CURRENT
    row is replayed as a log stub at its own ``valid_from`` and
    re-intervalized together with the key's batch rows — so a batch
    whose first regime equals the current attributes COMPRESSES into
    the existing row (original valid_from preserved, still current),
    and a real change closes it at the first differing timestamp.
    Cost: two |dim|-vs-|batch-keys| semi/anti joins + intervalize over
    (touched current rows + batch) — O(|batch| + touched keys), never
    the dimension's history; rebuild mode reads the touched keys'
    regime rows instead of only their current rows (per-entity
    histories are bounded, so still O(|batch| + touched regimes)).

    Both modes deliberately avoid joining the batch back against the
    dimension INSIDE the re-intervalized branch: a plan whose union
    branches share the dim lineage twice trips Spark's
    DeduplicateRelations into mis-rewriting the window partition keys
    (branch results change when unioned — observed on 4.1.2), so late
    detection is a window over the minilog and the rebuild replays
    regimes straight off the touched split."""
    if on_late not in ("error", "rebuild"):
        raise ValueError("on_late must be 'error' or 'rebuild'")
    b = batch.select(*keys, ts_col, *([seq_col] if seq_col else []), *attr_cols)
    bkeys = b.select(*keys).distinct()
    touched = dim.join(bkeys, keys, "left_semi")
    untouched = dim.join(bkeys, keys, "left_anti")
    if on_late == "rebuild":
        rn = F.row_number().over(
            W.partitionBy(*[F.col(k) for k in keys]).orderBy(
                # Regimes within a key are ordered by (valid_from,
                # valid_to): two regimes share valid_from only when the
                # earlier is zero-length, and then its valid_to is
                # strictly smaller. The one residual tie — two
                # zero-length regimes at the SAME instant — is broken by
                # the attributes (consecutive regimes always differ), so
                # the replay order is total and deterministic; original
                # log order among such same-instant zero-length pairs is
                # not retained by the dimension, which is part of the
                # retained-history caveat above.
                "valid_from",
                "valid_to",
                *attr_cols,
            )
        )
        replay_cols = [F.col(k) for k in keys] + [F.col("valid_from").alias(ts_col)]
        if seq_col is not None:
            replay_cols.append((rn.cast("long") - F.lit(2**40)).alias(seq_col))
        replay_cols += [F.col(c) for c in attr_cols]
        rebuilt = scd2_intervalize(
            touched.select(*replay_cols).unionByName(b),
            keys,
            ts_col,
            attr_cols,
            seq_col=seq_col,
            high_date=high_date,
        )
        return untouched.unionByName(rebuilt)
    closed = touched.filter(~F.col("is_current"))
    stub_cols = [F.col(k) for k in keys] + [F.col("valid_from").alias(ts_col)]
    if seq_col is not None:
        # The stub sorts before any batch row: its ts (the current
        # regime's valid_from) strictly precedes every batch ts by the
        # contract above, so the seq value is inert; -1 keeps the column.
        stub_cols.append(F.lit(-1).cast("long").alias(seq_col))
    stub_cols += [F.col(c) for c in attr_cols]
    cur_stub = touched.filter(F.col("is_current")).select(*stub_cols)
    minilog0 = cur_stub.withColumn("__stub", F.lit(True)).unionByName(
        b.withColumn("__stub", F.lit(False))
    )
    stub_ts = F.max(F.when(F.col("__stub"), F.col(ts_col))).over(
        W.partitionBy(*[F.col(k) for k in keys])
    )
    guard = F.when(
        (~F.col("__stub")) & (F.col(ts_col) <= stub_ts),
        F.raise_error(
            F.concat(
                F.lit(
                    "scd2_apply: late batch row (ts <= current valid_from) "
                    "for key ("
                ),
                F.concat_ws(",", *[F.col(k).cast("string") for k in keys]),
                F.lit("): "),
                F.col(ts_col).cast("string"),
                F.lit(" <= "),
                stub_ts.cast("string"),
                F.lit("; pass on_late='rebuild' to re-intervalize late keys"),
            )
        ),
    ).otherwise(F.col(ts_col))
    minilog = minilog0.withColumn(ts_col, guard).drop("__stub")
    fresh = scd2_intervalize(
        minilog, keys, ts_col, attr_cols, seq_col=seq_col, high_date=high_date
    )
    return untouched.unionByName(closed).unionByName(fresh)


def zorder_key(cols: list[Column], bits: int = 8) -> Column:
    """Morton / Z-order key: bit-interleave ``len(cols)`` already-quantized
    dimension columns (each a non-negative integer < 2**bits) into one
    BIGINT whose lexicographic order is the Z space-filling curve
    (Morton 1966). Sorting or range-partitioning a table by this key
    clusters rows that are close in EVERY dimension into the same file /
    row group, so min-max zone maps prune multi-dimensional predicates —
    the layout step behind Delta/Iceberg ``OPTIMIZE ZORDER BY`` at 100 TB.

    Pure column arithmetic (shift/and/or), unrolled bits×dims times: stays
    inside whole-stage codegen, no UDF, no shuffle of its own. Total key
    width bits×dims must fit a signed BIGINT (≤ 62).
    """
    n = len(cols)
    if n < 2:
        raise ValueError("zorder_key needs at least 2 dimension columns")
    if bits * n > 62:
        raise ValueError("bits * dims must be <= 62 to fit a signed BIGINT")
    z = F.lit(0).cast("long")
    for i in range(bits):
        for d, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + d))
    return z


def hilbert_key_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 8,
    out_col: str = "h",
) -> DataFrame:
    """Hilbert-curve key for two already-quantized dimensions (each a
    non-negative integer < 2**bits): appends ``out_col`` = the point's
    distance along the order-``bits`` Hilbert curve (Hilbert 1891; the
    xy2d walk of Warren, Hacker's Delight §16). Like zorder_key this
    makes one BIGINT whose sort order clusters rows close in BOTH
    dimensions — but the Hilbert curve has no Z-curve 'jumps'
    (consecutive keys are always grid-adjacent), so zone min/max boxes
    are tighter and zone-map pruning touches fewer zones for the same
    box predicate (the reason Databricks liquid clustering moved from
    Z-order to Hilbert). The measured selectivity comparison lives in
    the sort_hilbert_pruning entry.

    The rotation step is data-dependent (reflect+swap when ry=0), so the
    key is built as ``bits`` chained projections — each level's x/y/d
    are real aliased columns referencing the previous level's at most
    twice, keeping the expression tree linear in ``bits`` under
    CollapseProject (a single nested expression would triple per level).
    Pure integer CASE/shift arithmetic: whole-stage codegen, no UDF, no
    shuffle; the identical level-by-level spelling generates the DuckDB
    oracle CTE chain so the two cannot drift."""
    out = (
        df.withColumn("__hx", F.col(x_col).cast("long"))
        .withColumn("__hy", F.col(y_col).cast("long"))
        .withColumn("__hd", F.lit(0).cast("long"))
    )
    keep = [c for c in df.columns]
    for level in range(bits - 1, -1, -1):
        s = 1 << level
        rx = (F.col("__hx").bitwiseAND(F.lit(s)) > 0).cast("long")
        ry = (F.col("__hy").bitwiseAND(F.lit(s)) > 0).cast("long")
        d_next = F.col("__hd") + F.lit(s * s).cast("long") * (
            (F.lit(3).cast("long") * rx).bitwiseXOR(ry)
        )
        # ry=0: reflect when rx=1 (x' = s-1-x, y' = s-1-y), then swap.
        nx = (
            F.when(ry == 1, F.col("__hx"))
            .when(rx == 1, F.lit(s - 1).cast("long") - F.col("__hy"))
            .otherwise(F.col("__hy"))
        )
        ny = (
            F.when(ry == 1, F.col("__hy"))
            .when(rx == 1, F.lit(s - 1).cast("long") - F.col("__hx"))
            .otherwise(F.col("__hx"))
        )
        out = out.select(
            *keep,
            d_next.alias("__hd"),
            nx.alias("__hx"),
            ny.alias("__hy"),
        )
    return out.select(*keep, F.col("__hd").alias(out_col))


def hilbert_oracle_ctes(bits: int = 8) -> str:
    """The DuckDB CTE chain twin of :func:`hilbert_key_2d` — one CTE per
    level, generated from the same loop so the spellings cannot drift.
    Expects an upstream CTE named ``h{bits}`` with columns
    (..., hx, hy, hd); produces ``h0`` whose ``hd`` is the key. Callers
    splice: ``WITH ..., h8 AS (SELECT *, qx AS hx, qy AS hy, 0 AS hd
    ...), <this> SELECT ... FROM h0``."""
    parts = []
    for level in range(bits - 1, -1, -1):
        s = 1 << level
        rx = f"(CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END)"
        parts.append(
            f"h{level} AS (SELECT * REPLACE ("
            f"hd + {s * s} * xor(3 * {rx}, {ry}) AS hd, "
            f"CASE WHEN {ry} = 1 THEN hx "
            f"WHEN {rx} = 1 THEN {s - 1} - hy ELSE hy END AS hx, "
            f"CASE WHEN {ry} = 1 THEN hy "
            f"WHEN {rx} = 1 THEN {s - 1} - hx ELSE hx END AS hy) "
            f"FROM h{level + 1})"
        )
    return ", ".join(parts)


def hilbert_key_nd(
    df: DataFrame,
    cols: list[str],
    bits: int = 8,
    out_col: str = "h",
) -> DataFrame:
    """N-dimensional Hilbert-curve key (Skilling's transpose walk,
    "Programming the Hilbert curve", AIP Conf. Proc. 707, 2004; the
    n-D generalization Butz 1971 / Lawder 2000 describe as a state
    walk): appends ``out_col`` = the point's distance along the
    order-``bits`` Hilbert curve through ``len(cols)`` already-quantized
    dimensions (each a non-negative integer < 2**bits). This is the
    3-4-column liquid-clustering case :func:`hilbert_key_2d` can't
    cover: consecutive keys are always grid-adjacent in n-D (verified
    exhaustively in tests), so equal-row-count zone cuts keep tighter
    min/max boxes than :func:`zorder_key` on the same columns.

    Spelled exactly like the 2-D walk: the data-dependent
    exchange/invert steps unroll to (bits-1)*n chained projections of
    pure integer CASE/XOR arithmetic (each level's columns reference
    the previous level's at most twice, linear under CollapseProject),
    then the Gray encode, the rotation-correction XOR fold, and the
    final bit interleave (X[0]'s bit most significant within each
    level group). Whole-stage codegen throughout — no UDF, no shuffle;
    :func:`hilbert_nd_oracle_ctes` generates the DuckDB CTE twin from
    the same loop so the spellings cannot drift. Total key width
    bits*dims must fit a signed BIGINT (<= 62)."""
    n = len(cols)
    if n < 2:
        raise ValueError("hilbert_key_nd needs at least 2 dimension columns")
    if bits * n > 62:
        raise ValueError("bits * dims must be <= 62 to fit a signed BIGINT")
    # Round-13 (session 3): the SAME walk, emitted as selectExpr strings
    # parsed in the JVM instead of Column-API calls — the (bits-1)*n
    # chained projections issued one py4j round trip per expression node
    # (~1000 for bits=8, n=3), so plan BUILD alone cost ~2.5 s of
    # sort_hilbert_3d's wall time (execution unchanged). Integer-exact
    # either way: verified bit-identical on exhaustive n=2/3/4 grids and
    # the published Skilling vectors (tests), and the generated plan is
    # the same CASE/XOR arithmetic whole-stage codegen compiles.
    keep = [f"`{c}`" for c in df.columns]
    xs = [f"__hx{i}" for i in range(n)]
    out = df.selectExpr(
        *keep, *[f"CAST(`{c}` AS BIGINT) AS {x}" for c, x in zip(cols, xs)]
    )

    def proj(repl: dict):
        return out.selectExpr(*keep, *[repl.get(x, x) for x in xs])

    q = 1 << (bits - 1)
    while q > 1:
        p = q - 1
        for i in range(n):
            cond = f"(({xs[i]} & {q}L) != 0)"
            if i == 0:
                out = proj(
                    {
                        xs[0]: f"CASE WHEN {cond} THEN ({xs[0]} ^ {p}L) "
                        f"ELSE {xs[0]} END AS {xs[0]}"
                    }
                )
            else:
                t = f"(({xs[0]} ^ {xs[i]}) & {p}L)"
                out = proj(
                    {
                        xs[0]: f"CASE WHEN {cond} THEN ({xs[0]} ^ {p}L) "
                        f"ELSE ({xs[0]} ^ {t}) END AS {xs[0]}",
                        xs[i]: f"CASE WHEN {cond} THEN {xs[i]} "
                        f"ELSE ({xs[i]} ^ {t}) END AS {xs[i]}",
                    }
                )
        q >>= 1
    for i in range(1, n):
        out = proj({xs[i]: f"({xs[i]} ^ {xs[i-1]}) AS {xs[i]}"})
    t_fold = "CAST(0 AS BIGINT)"
    q = 1 << (bits - 1)
    while q > 1:
        t_fold = (
            f"({t_fold} ^ CASE WHEN (({xs[n-1]} & {q}L) != 0) "
            f"THEN {q-1}L ELSE 0L END)"
        )
        q >>= 1
    out = out.selectExpr(*keep, *xs, f"{t_fold} AS __ht")
    out = out.selectExpr(*keep, *[f"({x} ^ __ht) AS {x}" for x in xs])
    h = "CAST(0 AS BIGINT)"
    for lvl in range(bits):
        for i in range(n):
            bit = f"(shiftright({xs[i]}, {lvl}) & 1L)"
            h = f"({h} | shiftleft({bit}, {lvl * n + (n - 1 - i)}))"
    return out.selectExpr(*keep, f"{h} AS `{out_col}`")


def hilbert_nd_oracle_ctes(n: int, bits: int = 8) -> str:
    """The DuckDB CTE chain twin of :func:`hilbert_key_nd` — generated
    from the same loop so the spellings cannot drift. Expects an
    upstream CTE named ``g_in`` with columns (..., hx0..hx{n-1});
    produces ``g_fin`` whose ``hd`` column is the Hilbert index.
    Callers splice: ``WITH ..., g_in AS (SELECT *, q0 AS hx0, ...
    FROM ...), <this> SELECT ... FROM g_fin``."""
    parts: list[str] = []
    prev = "g_in"

    def emit(replaces: str):
        nonlocal prev
        name = f"g{len(parts)}"
        parts.append(f"{name} AS (SELECT * REPLACE ({replaces}) FROM {prev})")
        prev = name

    q = 1 << (bits - 1)
    while q > 1:
        p = q - 1
        for i in range(n):
            if i == 0:
                emit(
                    f"CASE WHEN (hx0 & {q}) <> 0 THEN xor(hx0, {p}) "
                    f"ELSE hx0 END AS hx0"
                )
            else:
                t = f"(xor(hx0, hx{i}) & {p})"
                emit(
                    f"CASE WHEN (hx{i} & {q}) <> 0 THEN xor(hx0, {p}) "
                    f"ELSE xor(hx0, {t}) END AS hx0, "
                    f"CASE WHEN (hx{i} & {q}) <> 0 THEN hx{i} "
                    f"ELSE xor(hx{i}, {t}) END AS hx{i}"
                )
        q >>= 1
    for i in range(1, n):
        emit(f"xor(hx{i}, hx{i-1}) AS hx{i}")
    t_fold = "CAST(0 AS BIGINT)"
    q = 1 << (bits - 1)
    while q > 1:
        t_fold = (
            f"xor({t_fold}, CASE WHEN (hx{n-1} & {q}) <> 0 "
            f"THEN {q - 1} ELSE 0 END)"
        )
        q >>= 1
    parts.append(f"gt AS (SELECT *, ({t_fold}) AS ht FROM {prev})")
    prev = "gt"
    emit(", ".join(f"xor(hx{i}, ht) AS hx{i}" for i in range(n)))
    interleave = " | ".join(
        f"(((hx{i} >> {lvl}) & 1) << {lvl * n + (n - 1 - i)})"
        for lvl in range(bits)
        for i in range(n)
    )
    parts.append(f"g_fin AS (SELECT *, CAST({interleave} AS BIGINT) AS hd FROM {prev})")
    return ", ".join(parts)


def quantize_minmax(col: Column, min_col: Column, max_col: Column, bits: int = 8) -> Column:
    """Equi-width quantizer for :func:`zorder_key`: map an integer column
    with data range [min_col, max_col] onto [0, 2**bits) —
    ``floor((x - min) * 2**bits / (max - min + 1))``. Integer arithmetic
    throughout (BIGINT-safe for ranges < 2**54), so Spark and any SQL
    twin agree bit-for-bit. min/max come in as columns (a broadcast
    scalar aggregate in practice) to keep the whole layout pass one job.
    """
    span = max_col.cast("long") - min_col.cast("long") + F.lit(1).cast("long")
    off = col.cast("long") - min_col.cast("long")
    return F.floor(off * F.lit(2**bits).cast("long") / span).cast("long")


def incremental_agg_apply(
    state: DataFrame,
    delta_agg: DataFrame,
    keys: list[str],
    count_col: str = "cnt",
) -> DataFrame:
    """Incremental view maintenance for distributive aggregates (SUM /
    COUNT families): merge a materialized per-key aggregate ``state``
    with a pre-aggregated SIGNED delta ``delta_agg`` (same schema —
    inserts contributed with +1 multiplicity, deletes with -1, so a
    deleted row's measures arrive negated), re-aggregate, and drop keys
    whose surviving ``count_col`` is 0 (the group vanished). This is the
    Z-set / delta-query evaluation of DBSP (Budiu et al., VLDB 2023) and
    classic counting-IVM (Gupta-Mumick): refresh cost is O(|delta|) plus
    one merge touch of the state — never a rescan of the 100 TB base.

    Shape: ``delta_agg`` is produced by aggregating ONLY the changelog
    (map-side combinable), then union + re-agg shuffles on the same key
    as the state's own partitioning — with the state bucketed/partitioned
    by key the exchange elides on its side, so only the (small) delta
    moves. Measures must be order-independent-exact (longs / decimals);
    float measures should be decimal-cast upstream.
    """
    measures = [c for c in state.columns if c not in keys]
    if count_col not in measures:
        raise ValueError(f"state must carry the multiplicity column {count_col!r}")
    if set(state.columns) != set(delta_agg.columns):
        raise ValueError("state and delta_agg must share one schema")
    merged = (
        state.unionByName(delta_agg)
        .groupBy(*keys)
        .agg(*[F.sum(F.col(c)).alias(c) for c in measures])
    )
    return merged.filter(F.col(count_col) > 0)


def zset_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    mult_col: str = "mult",
) -> DataFrame:
    """Z-set (signed multiset) equi-join: both sides carry a signed
    ``mult_col`` multiplicity and each joined pair's multiplicity is the
    PRODUCT — the bilinear operator that makes join views incrementally
    maintainable (DBSP, Budiu et al. VLDB 2023 §4: join is bilinear, so
    Δ(R ⋈ S) = ΔR ⋈ S + R ⋈ ΔS + ΔR ⋈ ΔS, each term touching only one
    delta or both — never a rescan of the maintained view). Plain inner
    hash join + one multiplication; a zero or negative product is
    meaningful (a delete joining an insert cancels downstream in
    :func:`zset_consolidate`)."""
    lm = left.withColumnRenamed(mult_col, "__lm")
    rm = right.withColumnRenamed(mult_col, "__rm")
    return (
        lm.join(rm, on)
        .withColumn(mult_col, (F.col("__lm") * F.col("__rm")).cast("long"))
        .drop("__lm", "__rm")
    )


def zset_consolidate(
    df: DataFrame,
    cols: list[str],
    mult_col: str = "mult",
    drop_nonpositive: bool = True,
) -> DataFrame:
    """Z-set consolidation: group identical tuples, sum their signed
    multiplicities, drop the zeros (a matched insert+delete pair
    annihilates). ``drop_nonpositive`` keeps only mult > 0 — the
    materialize step that turns a maintained Z-set back into a bag; pass
    False to keep negative rows (a changelog that still awaits its
    matching base rows). One key shuffle, map-side combinable."""
    out = df.groupBy(*cols).agg(F.sum(mult_col).cast("long").alias(mult_col))
    cond = F.col(mult_col) > 0 if drop_nonpositive else F.col(mult_col) != 0
    return out.filter(cond)


def global_running_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running",
    num_partitions: int | None = None,
) -> DataFrame:
    """INCLUSIVE running sum of ``value_col`` over the GLOBAL total order
    given by ``order_cols`` — without a single-task global sort: range
    partition on the order, pin the placement (localCheckpoint, the
    shard_pack discipline — repartitionByRange samples fresh per
    execution, so an unpinned layout could move boundary rows between
    the totals job and the window job), per-partition window cumsum,
    then add driver-computed partition prefix offsets (one (pid, total)
    row per partition crosses to the driver — bytes, not data). The
    timeline/prefix-scan primitive behind interval concurrency, ordered
    checkpoints, and exact CDF points; values must be exact (long —
    floats would make the sum order-dependent).

    PRECONDITION: ``order_cols`` must be a TOTAL order over the input —
    or any tied rows must be interchangeable (identical in every column
    the caller reads downstream, or carrying equal ``value_col``). Tied
    rows with differing values get an arbitrary relative cumsum (the
    within-partition window breaks ties by physical order), so the
    per-row running values would be nondeterministic even though the
    post-tie total is exact. Both in-repo callers satisfy this:
    interval_concurrency pre-aggregates deltas per timestamp (ties
    impossible), and the layout entries order by (key, dims) with
    value_col = 1 (tied rows interchangeable)."""
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_cols]
    staged = (
        df.repartitionByRange(parts, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    totals = dict(
        staged.groupBy("__pid")
        .agg(F.sum(F.col(value_col).cast("long")).alias("t"))
        .collect()
    )
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid] or 0
    offset_expr = (
        F.coalesce(
            F.element_at(
                F.create_map(
                    *[F.lit(x) for pid in offsets for x in (pid, offsets[pid])]
                ),
                F.col("__pid"),
            ),
            F.lit(0),
        )
        if offsets
        else F.lit(0)
    )
    w = W.partitionBy("__pid").orderBy(*cols)
    local_incl = F.sum(F.col(value_col).cast("long")).over(
        w.rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return staged.withColumn(
        out_col, (offset_expr + local_incl).cast("long")
    ).drop("__pid")


def interval_concurrency(
    intervals: DataFrame,
    start_col: str,
    end_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Timeline sweep: from a table of [start, end] intervals, the exact
    concurrency curve — (ts, net, concurrent) at every boundary
    timestamp, where ``concurrent`` counts intervals containing ts
    (closed at start, open at end after its own −1 is applied; an
    interval with start == end nets to zero). The classic
    max-concurrent-sessions / room-scheduling sweep, distributed: +1/−1
    boundary deltas are PRE-AGGREGATED per timestamp (making the
    subsequent order a total order by construction — no tiebreak row
    ambiguity can reach the running sum), then scanned by
    :func:`global_running_sum` — a range shuffle and one driver-side
    offsets map, never a single-reducer global sort."""
    b = intervals.select(
        F.col(start_col).alias("ts"), F.lit(1).cast("long").alias("__d")
    ).unionByName(
        intervals.select(
            F.col(end_col).alias("ts"), F.lit(-1).cast("long").alias("__d")
        )
    )
    net = b.groupBy("ts").agg(F.sum("__d").cast("long").alias("net"))
    return global_running_sum(
        net, ["ts"], "net", out_col="concurrent", num_partitions=num_partitions
    )


def changelog_compact(
    log: DataFrame,
    keys: list[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Changelog compaction (the Kafka log-compaction / Delta CDF
    collapse): from an ordered changelog of (seq, op, key, values) keep
    each key's LATEST record and drop keys whose latest op is a delete —
    the snapshot the log replays to. ``seq_col`` must totally order each
    key's records (a commit LSN / version; ties are a producer bug and
    surface as nondeterminism upstream, not here). One window over the
    log partitioned by key — cost O(|log|), grouped by the same key the
    snapshot is stored under, so the downstream merge/apply reuses the
    partitioning. The inverse direction of snapshot_diff: diff EXTRACTS
    a log from two snapshots; compact REPLAYS a log into one."""
    w = W.partitionBy(*keys).orderBy(F.col(seq_col).desc())
    return (
        log.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col(op_col) != delete_op))
        .drop("__rn", op_col, seq_col)
    )


def gapfill_locf(
    obs: DataFrame,
    keys: list[str],
    ts_col: str,
    step_seconds: int,
    carry_cols: list[str],
    zero_cols: list[str] | None = None,
) -> DataFrame:
    """Time-bucket gap-fill + last-observation-carried-forward (the
    TimescaleDB ``time_bucket_gapfill`` + ``locf`` pair): ``obs`` holds at
    most one row per (key, bucket timestamp); emit EVERY ``step_seconds``
    bucket between each key's first and last observation, carrying
    ``carry_cols`` forward across the gaps (LOCF), zero-filling
    ``zero_cols`` (additive measures — a silent hour really is 0 events),
    and flagging synthesized rows with ``is_gap``.

    Shape: per-key min/max span (one combinable agg), sequence+explode of
    the bucket grid (fan-out = span/step, data-independent), left join of
    observations on (key, bucket), ONE window per key ordered by bucket
    for the carry — the join and the window share the key partitioning.
    Per-reducer state is one key's bounded span; grid size is
    |keys| × span/step regardless of corpus row count.
    """
    spans = obs.groupBy(*keys).agg(
        F.min(ts_col).alias("__lo"), F.max(ts_col).alias("__hi")
    )
    grid = spans.select(
        *keys,
        F.explode(
            F.sequence(
                F.col("__lo"),
                F.col("__hi"),
                F.expr(f"INTERVAL {int(step_seconds)} SECONDS"),
            )
        ).alias(ts_col),
    )
    joined = grid.join(
        obs.withColumn("__obs", F.lit(1)), on=list(keys) + [ts_col], how="left"
    )
    w = (
        W.partitionBy(*keys)
        .orderBy(ts_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cols = [F.col(c) for c in keys] + [F.col(ts_col)]
    for c in carry_cols:
        cols.append(F.last(F.col(c), ignorenulls=True).over(w).alias(c))
    for c in zero_cols or []:
        cols.append(F.coalesce(F.col(c), F.lit(0).cast("long")).alias(c))
    cols.append(F.col("__obs").isNull().alias("is_gap"))
    return joined.select(*cols)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
) -> DataFrame:
    """CDC EXTRACT — the inverse of :func:`merge_upsert`'s apply: diff two
    snapshots of a keyed table into a changelog of (op, key, new values):
    ``I`` for keys only in ``new``, ``D`` for keys only in ``old`` (value
    columns NULL), ``U`` for keys in both whose non-key columns differ
    under null-safe equality. Unchanged rows are absent — the changelog
    is |changes|-sized, which is what makes log shipping cheaper than
    snapshot shipping at 100 TB. Round-trip law (property-tested):
    applying the changelog to ``old`` with merge_upsert + tombstone
    deletes reproduces ``new`` exactly.

    Shape: ONE full-outer hash join on the key (both snapshots bucketed
    by key elide their exchanges), a null-safe column comparison, no
    window, no driver state."""
    val_cols = [c for c in old.columns if c not in keys]
    if set(old.columns) != set(new.columns):
        raise ValueError("snapshot_diff requires identical schemas")
    o = old.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        *[F.col(c).alias(f"__o_{c}") for c in val_cols],
        F.lit(True).alias("__o_exists"),
    )
    n = new.select(
        *[F.col(k).alias(f"__nk_{k}") for k in keys],
        *[F.col(c).alias(f"__n_{c}") for c in val_cols],
        F.lit(True).alias("__n_exists"),
    )
    cond = None
    for k in keys:
        eq = F.col(f"__ok_{k}") == F.col(f"__nk_{k}")
        cond = eq if cond is None else (cond & eq)
    j = o.join(n, on=cond, how="full_outer")
    changed = None
    for c in val_cols:
        neq = ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        changed = neq if changed is None else (changed | neq)
    op = (
        F.when(F.col("__o_exists").isNull(), F.lit("I"))
        .when(F.col("__n_exists").isNull(), F.lit("D"))
        .when(changed, F.lit("U"))
    )
    out_keys = [
        F.coalesce(F.col(f"__ok_{k}"), F.col(f"__nk_{k}")).alias(k) for k in keys
    ]
    return (
        j.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(
            "op",
            *out_keys,
            *[F.col(f"__n_{c}").alias(c) for c in val_cols],
        )
    )
