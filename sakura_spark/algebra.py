"""The reference's relational algebra as DataFrame combinators.

Operator-for-operator re-expression of the reference algebra
(lib/algebra.ml:66-331) on lazy DataFrames. The reference evaluates with
single-threaded lazy generators and a nested-loop join that fully
materializes the right side (lib/algebra.ml:172-235); here every operator
is a declarative plan handed to Catalyst, so scans prune/push down, joins
pick broadcast-hash vs sort-merge by statistics, and execution distributes.

Semantics preserved from the reference (documented divergences in SURVEY §7):
  * equijoin merges schemas with LEFT-WINS on colliding non-join attributes
    (lib/algebra.ml:185-196)
  * union is a BAG union (generator chaining, no dedup —
    lib/algebra.ml:248-262); ``union_set`` adds the set variant since stored
    relations are sets
  * diff is set-difference on whole-tuple equality (lib/algebra.ml:264-303)
  * take(n) needs an explicit order to be deterministic under distribution;
    the reference's "first n of the generator" has no distributed analogue,
    so ``take`` exposes an optional sort-key list (top-k pattern)
"""

from __future__ import annotations

from collections.abc import Iterable
from decimal import ROUND_HALF_UP, Context, Decimal

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, StructType

# Wide enough for any decimal(38, s) value: quantizing never runs out of
# digits before Arrow's own precision check can reject an oversized value.
_DECIMAL_CONTEXT = Context(prec=80, rounding=ROUND_HALF_UP)


def select(df: DataFrame, predicate: Column | str) -> DataFrame:
    """σ — filter (lib/algebra.ml:66-83). Predicate is a Column or SQL text;
    both stay JVM-side and push down to the parquet scan."""
    return df.filter(predicate)


def project(df: DataFrame, attrs: Iterable[str]) -> DataFrame:
    """π — keep named attrs (lib/algebra.ml:85-129). Column pruning reaches
    the scan (ReadSchema) for free."""
    return df.select(*attrs)


def rename(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """ρ — rename attrs via {old: new} (lib/algebra.ml:131-170)."""
    missing = set(mapping) - set(df.columns)
    if missing:
        raise KeyError(f"rename: unknown attributes {sorted(missing)}")
    return df.withColumnsRenamed(mapping)


def equijoin(left: DataFrame, right: DataFrame, attrs: list[str]) -> DataFrame:
    """⋈ — natural equijoin on named attrs (lib/algebra.ml:172-246).

    Result schema = left + (right minus join attrs); on non-join name
    collisions the LEFT side wins (lib/algebra.ml:185-196), so colliding
    right columns are dropped before the join. With attrs=[] this is the
    cartesian product (lib/drl/executor.ml:59-63).

    Physical strategy is Catalyst's choice (broadcast-hash when a side is
    small — the distributed upgrade of the reference's materialize-right
    nested loop; sort-merge otherwise, with AQE skew splitting).
    """
    if not attrs:
        return cartesian(left, right)
    collisions = (set(left.columns) & set(right.columns)) - set(attrs)
    r = right.drop(*collisions) if collisions else right
    return left.join(r, on=list(attrs), how="inner")


def cartesian(left: DataFrame, right: DataFrame) -> DataFrame:
    """× — cross product; left wins on any name collision."""
    collisions = set(left.columns) & set(right.columns)
    r = right.drop(*collisions) if collisions else right
    return left.crossJoin(r)


def semijoin(filter_rel: DataFrame, source: DataFrame) -> DataFrame:
    """⋉ — DRL `Select`: keep source tuples that match the filter relation on
    their common attributes, schema unchanged (lib/drl/executor.ml:35-49).
    A left-semi hash join: no right-side duplication, no row explosion."""
    common = [c for c in source.columns if c in set(filter_rel.columns)]
    if not common:
        # No common attrs: every source tuple matches iff filter is nonempty
        # (degenerate case; the reference's equijoin-on-[] behaviour).
        return source.crossJoin(filter_rel.limit(1).select(F.lit(1).alias("__m"))).drop("__m")
    return source.join(filter_rel.select(*common).dropDuplicates(), on=common, how="left_semi")


def antijoin(filter_rel: DataFrame, source: DataFrame) -> DataFrame:
    """Complement of semijoin — NOT EXISTS, the FK-violation primitive."""
    common = [c for c in source.columns if c in set(filter_rel.columns)]
    return source.join(filter_rel.select(*common).dropDuplicates(), on=common, how="left_anti")


def union(left: DataFrame, right: DataFrame) -> DataFrame:
    """∪ — BAG union by name, replicating the reference's generator chaining
    with no dedup (lib/algebra.ml:248-262)."""
    return left.unionByName(right.select(*left.columns))


def union_set(left: DataFrame, right: DataFrame) -> DataFrame:
    """∪ with set semantics (stored relations are sets — SURVEY §1.4)."""
    return union(left, right).dropDuplicates()


def diff(left: DataFrame, right: DataFrame) -> DataFrame:
    """− — tuples of left absent from right, whole-tuple equality, set
    semantics (lib/algebra.ml:264-303). EXCEPT DISTINCT (hash left-anti
    join under the hood — the distributed upgrade of the reference's linear
    scan per tuple). Note: ``exceptAll(right).dropDuplicates()`` would be
    wrong — a tuple present in BOTH sides survives whenever its left
    multiplicity exceeds its right multiplicity (reachable via wire DRL,
    e.g. Diff(Union(t, t), t)); ``subtract`` removes every left copy of any
    tuple that appears in right. Spark set ops resolve columns BY POSITION,
    and upstream joins reorder columns (join keys first), so the right side
    must be realigned to left's column order first."""
    return left.subtract(right.select(*left.columns))


def intersect(left: DataFrame, right: DataFrame) -> DataFrame:
    """∩ — derivable in the reference as diff(a, diff(a,b)); native here.
    Right realigned by name: Spark set ops are positional."""
    return left.intersect(right.select(*left.columns))


def take(df: DataFrame, n: int, order_by: list[str | Column] | None = None) -> DataFrame:
    """τ — first n tuples (lib/algebra.ml:305-322).

    The reference's generator order is an implementation detail; in a
    distributed engine "first n" without an order is nondeterministic, so an
    optional sort-key makes this the top-k pattern (sort + limit fuses into
    TakeOrderedAndProject — no global sort materialized).
    """
    if order_by:
        df = df.orderBy(*order_by)
    return df.limit(n)


def local_frame(spark: SparkSession, rows: Iterable, struct: StructType) -> DataFrame:
    """Driver-side rows as a JVM ``LocalRelation`` — the one way statement
    data (inserted/deleted tuples, DRL literals, empty and catalog
    relations) enters Spark.

    Rows are tuples (``Row``s included) in ``struct``'s field order, or
    dicts. PySpark's own row verifier runs first, so a type mismatch raises
    before anything is built, and values are converted exactly as
    ``createDataFrame(list, struct)`` converts them (a naive timestamp is
    the same instant). They then travel as one Arrow table: Catalyst sees
    the relation's true size (broadcasts it, plans no shuffle for a 1-row
    join) and scans it without a Python worker, where ``createDataFrame``
    of a list builds a Python RDD of unknown size that every scan re-runs
    in Python workers.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _create_converter, _make_type_verifier

    verify = _make_type_verifier(struct)
    convert = _create_converter(struct)
    internal = []
    for r in rows:
        verify(r)
        internal.append(struct.toInternal(convert(r)))
    schema = to_arrow_schema(struct)
    columns = list(zip(*internal)) if internal else [()] * len(schema)
    # Internal values are what Arrow expects for every Spark type: epoch
    # micros for timestamps (hence the UTC-zoned Arrow type), epoch days
    # for dates, Decimals, lists, tuples for structs. Decimals round half
    # up to the column's scale as the JVM rounds them (Arrow would refuse).
    arrays = []
    for col, field, arrow_field in zip(columns, struct.fields, schema):
        if isinstance(field.dataType, DecimalType):
            step = Decimal(1).scaleb(-field.dataType.scale)
            col = [None if v is None else _DECIMAL_CONTEXT.quantize(v, step) for v in col]
        arrays.append(pa.array(col, type=arrow_field.type))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=schema), schema=struct)


def const_relation(
    spark: SparkSession, rows: list[dict] | dict, schema: str | None = None
) -> DataFrame:
    """Literal relation from (attr, value) pairs (lib/algebra.ml:51-62), a
    ``local_frame``. Without a DDL ``schema`` the types are PySpark's
    inference, as ``createDataFrame`` infers them (int -> bigint,
    str -> string, float -> double, ...)."""
    if isinstance(rows, dict):
        rows = [rows]
    rows = [Row(**r) for r in rows]
    struct = spark._inferSchemaFromList(rows) if schema is None else spark._parse_ddl(schema)
    return local_frame(spark, rows, struct)


def materialize(df: DataFrame) -> list[Row]:
    """Drain to a tuple list (lib/algebra.ml:324-331). Driver-side by
    definition — use only for small/final results."""
    return df.collect()


# --- constraint propagation through the algebra (lib/algebra.ml:82,112-129,
# 158-170) ---------------------------------------------------------------------
# Spark DataFrames carry no relation metadata, so the reference's
# constraints-on-derived-relations travel as an explicit companion value:
# callers holding a relation's [(name, icl_ast.Body)] list thread it through
# the same operator that transformed the data. Semantics are the
# reference's: σ preserves every constraint, π keeps the ones whose
# referenced attributes survive (Constraint.filter_by_attrs — Or requires
# all branches, quantifiers bind their variable), ρ renames the references
# (Constraint.rename_vars).


def select_constraints(constraints: list[tuple[str, object]]) -> list[tuple[str, object]]:
    """σ: filtering rows never invalidates a row-level constraint
    (lib/algebra.ml:82 passes the list through untouched)."""
    return list(constraints)


def project_constraints(
    constraints: list[tuple[str, object]], attrs: Iterable[str]
) -> list[tuple[str, object]]:
    """π: keep constraints expressible over the surviving attributes
    (lib/algebra.ml:112-129 + Constraint.filter_by_attrs)."""
    from sakura_spark.icl import ast as icl_ast

    attrs = list(attrs)
    kept = []
    for name, body in constraints:
        filtered = icl_ast.filter_by_attrs(attrs, body)
        if filtered is not None:
            kept.append((name, filtered))
    return kept


def rename_constraints(
    constraints: list[tuple[str, object]], mapping: dict[str, str]
) -> list[tuple[str, object]]:
    """ρ: constraint variable references follow the attribute renames
    (lib/algebra.ml:158-170 + Constraint.rename_vars)."""
    from sakura_spark.icl import ast as icl_ast

    return [(name, icl_ast.rename_vars(mapping, body)) for name, body in constraints]


def equijoin_constraints(
    left: list[tuple[str, object]], right: list[tuple[str, object]]
) -> list[tuple[str, object]]:
    """⋈: constraints from BOTH inputs travel to the joined relation —
    every source row in the output still satisfies its own relation's
    invariants (lib/algebra.ml:237-241 + Constraint.merge,
    lib/constraint.ml:121-139). Same-named constraints from the two
    sides conjoin into a single And entry, exactly the reference's
    merge; distinct names all survive."""
    from sakura_spark.icl import ast as icl_ast

    return icl_ast.merge_constraints(list(left) + list(right))


def union_constraints(
    left: list[tuple[str, object]], right: list[tuple[str, object]]
) -> list[tuple[str, object]]:
    """∪: DROP all constraints — a union row may come from either input,
    so an invariant holds only if both sides agree, and the reference is
    conservative (lib/algebra.ml:261: "drop constraints since they only
    hold if both inputs agree"; docs/constraints.org:291-309)."""
    return []


def diff_constraints(
    left: list[tuple[str, object]], right: list[tuple[str, object]]
) -> list[tuple[str, object]]:
    """−: every output row comes from the LEFT input, so the left
    relation's constraints are preserved and the right's never apply
    (lib/algebra.ml:300-303 threads rel1.constraints through)."""
    return list(left)


def take_constraints(
    constraints: list[tuple[str, object]], n: int | None = None
) -> list[tuple[str, object]]:
    """τ: a row subset satisfies every row-level constraint of the
    source (lib/algebra.ml:305-322 threads rel.constraints through;
    ``n`` is accepted for signature symmetry and ignored, like the
    reference)."""
    return list(constraints)
