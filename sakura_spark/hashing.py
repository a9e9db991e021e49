"""Content-address hashing, Spark-side.

The reference identifies every tuple, relation and database state by a
SHA-256 over its content (reference: lib/hashing.ml:29-56). We reproduce the
*capability* — stable content identity usable for set semantics, diff and
3-way merge — with distributed Spark expressions instead of driver-side
loops: the tuple hash is a single `sha2(concat_ws(...))` column computed
inside whole-stage codegen, and the relation hash reduces the distinct
tuple hashes with a commutative aggregate (a count plus word sums modulo a
prime), so it is order-independent and needs no global sort at 100 TB.

That reduction is set-homomorphic: a relation's :class:`Digest` (count and
word sums) moves by exactly the digest of the tuples a statement inserts
or removes. The Database keeps each relation's digest and derives the new
hash from the statement's own aggregate; :func:`relation_hash` rescans a
frame only when its digest is unknown.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Field/record separators — values never contain these control chars in the
# modelled domains (reference has only Int/Float/Str/Bool literals).
_FS = "\x1f"
_RS = "\x1e"

TUPLE_HASH_COL = "__tuple_hash"


def tuple_hash_expr(columns: list[str], relation_name: str | None = None) -> Column:
    """SHA-256 identity of a row: relation name + sorted (attr, value) pairs.

    Mirrors the reference's tuple identity (lib/hashing.ml:29-45): the hash
    covers the *sorted* attribute list so column order never matters. Values
    are cast to string; the reference model has no NULLs, but we encode NULL
    distinctly ("\\u0000") to stay total.
    """
    parts: list[Column] = []
    if relation_name is not None:
        parts.append(F.lit(relation_name))
    for c in sorted(columns):
        val = F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
        parts.append(F.concat_ws(_RS, F.lit(c), val))
    return F.sha2(F.concat_ws(_FS, *parts), 256)


def with_tuple_hash(
    df: DataFrame, relation_name: str | None = None, col_name: str = TUPLE_HASH_COL
) -> DataFrame:
    """Attach the content hash column (computed over all current columns)."""
    return df.withColumn(col_name, tuple_hash_expr(df.columns, relation_name))


# Modulus for the commutative relation-hash reduction: the largest 89-bit
# prime keeps each summed word well inside decimal(38,0) headroom.
_HASH_PRIME = (1 << 89) - 1


def digest_word_sums(col: str = TUPLE_HASH_COL) -> list[Column]:
    """The four word-sum aggregates of :class:`Digest`, over a tuple-hash
    column, aliased ``__w0`` .. ``__w3``.

    60 bits x 4 words (15 hex chars each, so conv() stays within a long);
    sums accumulate in decimal(38,0) — overflow needs ~1e20 distinct rows.
    A statement adds these to the aggregate it already runs over the rows
    it inserts or removes, which gives it its delta digest for free."""
    return [
        F.sum(
            F.conv(F.substring(F.col(col), 1 + 16 * i, 15), 16, 10)
            .cast("long")
            .cast("decimal(38,0)")
        ).alias(f"__w{i}")
        for i in range(4)
    ]


@dataclass(frozen=True)
class Digest:
    """The set-homomorphic state a relation hash is finalized from: the
    number of distinct tuples and four word sums of their tuple hashes,
    modulo a prime (AdHash — Bellare and Micciancio 1997).

    For a delta that is duplicate-free and disjoint from the relation,
    digest(R ∪ Δ) = digest(R) + digest(Δ) and digest(R − Δ) = digest(R) −
    digest(Δ), so a statement knows its relation's new hash from the
    rows it touched, without rescanning the relation. Exact as long as
    distinct rows have distinct tuple hashes, which holds in the modelled
    domains (see :data:`_FS`)."""

    n: int = 0
    words: tuple[int, int, int, int] = (0, 0, 0, 0)

    @classmethod
    def of_row(cls, row) -> "Digest":
        """The digest of distinct tuples from an aggregate row carrying
        their count as ``n`` and their :func:`digest_word_sums`."""
        return cls(row["n"], tuple(int(row[f"__w{i}"] or 0) % _HASH_PRIME for i in range(4)))

    def __add__(self, other: "Digest") -> "Digest":
        return Digest(
            self.n + other.n,
            tuple((a + b) % _HASH_PRIME for a, b in zip(self.words, other.words)),
        )

    def __sub__(self, other: "Digest") -> "Digest":
        return Digest(
            self.n - other.n,
            tuple((a - b) % _HASH_PRIME for a, b in zip(self.words, other.words)),
        )

    def hash(self, relation_name: str, schema_sig: str) -> str:
        """The relation hash: the digest with the relation name and schema
        signature folded in."""
        payload = f"{relation_name}{_FS}{schema_sig}{_FS}{self.n}" + "".join(
            f"{_FS}{w}" for w in self.words
        )
        return hashlib.sha256(payload.encode()).hexdigest()


class RelationHash(str):
    """What :func:`relation_hash` returns: the hex hash itself, carrying
    the :class:`Digest` it was finalized from and whether the hashed frame
    held duplicate rows (a mounted bag)."""

    digest: Digest
    had_duplicates: bool


def relation_hash(df: DataFrame, relation_name: str, schema_sig: str) -> RelationHash:
    """Order-independent content hash of a whole relation (set semantics),
    computed by a rescan of ``df``.

    Tuple hashes are first deduplicated (a relation's extension is a SET —
    SURVEY §1.4 — so equal-count multisets must not collide), then reduced
    with a commutative, associative SUM over 4 x 60-bit hash words — a
    map-side-combinable aggregate with no sort/shuffle of the data itself;
    the modulus is applied once driver-side. Unlike XOR (where duplicate
    tuples cancel pairwise and {a,a,b} vs {c,c,b} collide at h(b)), a sum of
    independent SHA-256-derived words modulo a large prime is
    collision-resistant in the random-oracle model for any realistic
    cardinality; the distinct count and schema signature are folded in as
    well.

    This is the full path, for a frame whose :class:`Digest` nobody knows
    (a mounted frame, a merged relation); statements on a relation with a
    known digest derive the new hash from their delta instead.
    """
    hashed = with_tuple_hash(df, relation_name).groupBy(TUPLE_HASH_COL).agg(
        F.count(F.lit(1)).alias("__copies")
    )
    row = hashed.agg(
        F.count(F.lit(1)).alias("n"), F.sum("__copies").alias("rows"), *digest_word_sums()
    ).collect()[0]
    digest = Digest.of_row(row)
    out = RelationHash(digest.hash(relation_name, schema_sig))
    out.digest = digest
    out.had_duplicates = (row["rows"] or 0) != row["n"]
    return out


def schema_signature(schema_pairs: list[tuple[str, str]]) -> str:
    """Stable signature of an (attr, domain) schema (lib/hashing.ml:51-56)."""
    return hashlib.sha256(
        _FS.join(f"{a}{_RS}{d}" for a, d in sorted(schema_pairs)).encode()
    ).hexdigest()


def database_hash(relation_hashes: dict[str, str]) -> str:
    """Database state hash = hash of the sorted relation-name->hash map."""
    payload = _FS.join(f"{n}{_RS}{h}" for n, h in sorted(relation_hashes.items()))
    return hashlib.sha256(payload.encode()).hexdigest()


def group_checksum(
    df: DataFrame,
    group_col: str,
    relation_name: str | None = None,
) -> DataFrame:
    """Distributed per-group reconciliation checksums: for each group
    (source, shard, partition) the DISTINCT-tuple count and four
    commutative 32-bit-word sums of the tuple content hashes — the
    set-semantics relation-hash reduction (see :func:`relation_hash`)
    exposed as a DataFrame so two systems can verify a migration or a
    replica GROUP BY GROUP with one query each and a tiny equi-join,
    instead of shipping rows. This is the first question of switching
    engines ("did every row survive the copy?") answered at 100 TB
    scale: map-side-combinable aggregates over a 64-byte hash, shuffle
    keyed on the group only.

    Word sums accumulate 32-bit slices in BIGINT — exact below 2^31
    distinct rows per group; past that, route through
    :func:`relation_hash`'s decimal(38,0) accumulation or add a salt
    sub-key and re-reduce (the sums are commutative and associative by
    construction). Engine-portable: sha2 + hex-slice arithmetic only,
    so a DuckDB/any-SQL twin recomputes every word bit-for-bit.
    """
    hashed = (
        with_tuple_hash(df, relation_name)
        .select(F.col(group_col).alias("grp"), F.col(TUPLE_HASH_COL))
        .dropDuplicates()
    )
    return hashed.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_distinct"),
        *[
            F.sum(
                F.conv(
                    F.substring(F.col(TUPLE_HASH_COL), 1 + 8 * i, 8), 16, 10
                ).cast("long")
            ).alias(f"w{i}")
            for i in range(4)
        ],
    )
