"""3-way merge of database states (reference: lib/management/merge.ml).

Algorithm parity:
  * LCA = first common hash of the two history chains
    (lib/management/merge.ml:31-36);
  * both sides diffed against the ancestor at tuple-hash granularity
    (diff.py);
  * conflict = the same tuple hash added on one side and removed on the
    other, or the same relation created with different schemas
    (lib/management/merge.ml:58-79, 97-157);
  * strategies: PreferLeft / PreferRight / RevertToAncestor.

All tuple set arithmetic is distributed (anti-joins / unions on the hash
column); only changed relations are touched.

Note on tuple conflicts: with content-addressed identity and endpoint
diffs, ``left.added ⊆ L−A`` while ``right.removed ⊆ A−R``, so the
intersection defining a tuple conflict is provably empty — the rule (and
the reference's, lib/management/merge.ml:97-157, which computes exactly
the same sets) holds vacuously for any pair of states reached by
mutation, so no tuple-conflict check is run.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from sakura_spark import errors
from sakura_spark.hashing import TUPLE_HASH_COL
from sakura_spark.management.diff import _tuples, diff_databases
from sakura_spark.management.store import SnapshotStore

PREFER_LEFT = "prefer_left"
PREFER_RIGHT = "prefer_right"
REVERT_TO_ANCESTOR = "revert_to_ancestor"


@dataclass
class MergeResult:
    ancestor: str
    conflicts: list[str] = field(default_factory=list)
    merged_relations: dict[str, DataFrame] = field(default_factory=dict)  # name -> tuples df
    schemas: dict[str, list] = field(default_factory=dict)
    dropped: set[str] = field(default_factory=set)
    # name -> content hash, for merged relations whose tuples are EXACTLY
    # an existing snapshot (take-as-is, revert, unchanged): the commit can
    # skip the write+hash entirely — the snapshot is already in the store
    # under that key (round-14 optimization, guide §1.2: don't recompute
    # what the Merkle tree already knows).
    known_hashes: dict[str, str] = field(default_factory=dict)


def find_ancestor(store: SnapshotStore, left_hash: str, right_hash: str) -> str:
    """First common entry of the two history chains."""
    lm = store.get_manifest(left_hash)
    rm = store.get_manifest(right_hash)
    lchain = [left_hash] + lm.get("history", [])
    rset = {right_hash, *rm.get("history", [])}
    for h in lchain:
        if h in rset:
            return h
    raise errors.MergeConflict("no common ancestor between branches")


def _apply(base: DataFrame, added: DataFrame | None, removed: DataFrame | None) -> DataFrame:
    out = base
    if removed is not None:
        out = out.join(removed.select(TUPLE_HASH_COL), on=TUPLE_HASH_COL, how="left_anti")
    if added is not None:
        out = out.unionByName(added).dropDuplicates([TUPLE_HASH_COL])
    return out


def merge_databases(
    spark: SparkSession,
    store: SnapshotStore,
    left_hash: str,
    right_hash: str,
    strategy: str = PREFER_LEFT,
) -> MergeResult:
    anc_hash = find_ancestor(store, left_hash, right_hash)
    anc = store.get_manifest(anc_hash)["relations"]
    ldiff = diff_databases(spark, store, anc_hash, left_hash)
    rdiff = diff_databases(spark, store, anc_hash, right_hash)
    lm = store.get_manifest(left_hash)["relations"]
    rm = store.get_manifest(right_hash)["relations"]

    res = MergeResult(ancestor=anc_hash)
    for name in sorted(set(anc) | set(lm) | set(rm)):
        ld, rd = ldiff.deltas.get(name), rdiff.deltas.get(name)
        a, l, r = anc.get(name), lm.get(name), rm.get(name)

        def take_as_is(entry) -> None:
            """Merged extension = an existing snapshot, verbatim: record
            its known content hash so the merge commit reuses the stored
            parquet instead of re-writing and re-hashing it."""
            res.schemas[name] = entry["schema"]
            res.merged_relations[name] = _tuples(spark, store, entry, name)
            res.known_hashes[name] = entry["hash"]

        # Schema conflicts: created/changed differently on the two sides.
        schemas = {tuple(map(tuple, e["schema"])) for e in (l, r) if e is not None}
        if len(schemas) > 1:
            res.conflicts.append(f"{name}: schema_conflict")
            if strategy == PREFER_LEFT and l is not None:
                take_as_is(l)
            elif strategy == PREFER_RIGHT and r is not None:
                take_as_is(r)
            elif strategy == REVERT_TO_ANCESTOR and a is not None:
                take_as_is(a)
            else:
                res.dropped.add(name)
            continue

        # Relation dropped on one side, modified on the other -> conflict.
        removed_side = (l is None and a is not None, r is None and a is not None)
        modified_side = (ld is not None and ld.kind == "modified",
                         rd is not None and rd.kind == "modified")
        if (removed_side[0] and modified_side[1]) or (removed_side[1] and modified_side[0]):
            res.conflicts.append(f"{name}: drop_vs_modify")
            keep = {PREFER_LEFT: l, PREFER_RIGHT: r, REVERT_TO_ANCESTOR: a}[strategy]
            if keep is None:
                res.dropped.add(name)
            else:
                take_as_is(keep)
            continue
        if l is None and r is None:
            res.dropped.add(name)
            continue
        if a is None and (l is None or r is None):
            # Created on exactly one side: take it as-is.
            take_as_is(l or r)
            continue
        if l is None or r is None:
            # Dropped on one side, untouched on the other: stays dropped.
            res.dropped.add(name)
            continue

        # Tuple-level 3-way apply.
        base = _tuples(spark, store, a, name) if a is not None else None
        if base is None:
            take_as_is(l if strategy != PREFER_RIGHT else r)
            continue
        l_add = ld.added if ld and ld.kind == "modified" else None
        l_rem = ld.removed if ld and ld.kind == "modified" else None
        r_add = rd.added if rd and rd.kind == "modified" else None
        r_rem = rd.removed if rd and rd.kind == "modified" else None

        # Add/remove conflicts on the same tuple hash
        # (lib/management/merge.ml:97-157) are PROVABLY the empty set here,
        # because both sides diff against the SAME ancestor snapshot —
        # ``l_add ⊆ L − A`` (anti-join against A) so every member is ABSENT
        # from A, while ``r_rem ⊆ A − R`` so every member is PRESENT in A;
        # their intersection is empty by membership in A alone, and
        # symmetrically for (r_add, l_rem). The reference's semi-join +
        # count (a multi-snapshot scan job per merged relation) would
        # compute a constant, so the two applies commute and are exact.
        merged = _apply(_apply(base, l_add, l_rem), r_add, r_rem)
        res.schemas[name] = a["schema"]
        res.merged_relations[name] = merged
        if ld is None and rd is None:
            # Neither side changed the relation: the merged extension IS
            # the ancestor snapshot — reuse its content hash at commit
            # (the common case at scale: a merge touches few relations).
            res.known_hashes[name] = a["hash"]
    return res
