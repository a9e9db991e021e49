"""Branch registry + DCL operations (reference: lib/management/branch.ml,
lib/dcl/executor.ml:32-96).

Branches are named pointers to database hashes with a HEAD, persisted as
JSON next to the snapshot store. Also exposes the reference's virtual
relations `sakura:branch(name, hash)` and `sakura:head(branch)`
(lib/management/branch.ml:74-132) as DataFrames.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from sakura_spark import errors
from sakura_spark.algebra import local_frame
from sakura_spark.database import Database
from sakura_spark.management.merge import PREFER_LEFT, merge_databases
from sakura_spark.management.store import SnapshotStore

_BRANCH = StructType([StructField("name", StringType()), StructField("hash", StringType())])
_HEAD = StructType([StructField("branch", StringType())])


class BranchManager:
    def __init__(self, store: SnapshotStore):
        self.store = store
        self._path = os.path.join(store.root, "branches.json")
        if os.path.exists(self._path):
            with open(self._path) as f:
                data = json.load(f)
            self.branches: dict[str, str] = data["branches"]
            self.head: str | None = data["head"]
        else:
            self.branches = {}
            self.head = None

    def _save(self) -> None:
        with open(self._path, "w") as f:
            json.dump({"branches": self.branches, "head": self.head}, f, sort_keys=True)

    # --- DCL statements ----------------------------------------------------

    def create_branch(self, name: str, db_hash: str) -> None:
        if name in self.branches:
            raise errors.UnknownBranch(f"branch exists: {name}")
        if not self.store.has_manifest(db_hash):
            raise errors.UnknownBranch(f"unknown database hash: {db_hash}")
        self.branches[name] = db_hash
        if self.head is None:
            self.head = name
        self._save()

    def checkout(self, spark: SparkSession, name: str) -> Database:
        tip = self.get_branch_tip(name)
        self.head = name
        self._save()
        return Database.load(spark, tip, self.store)

    def get_head(self) -> str:
        if self.head is None:
            raise errors.UnknownBranch("no HEAD set")
        return self.head

    def get_branch_tip(self, name: str) -> str:
        try:
            return self.branches[name]
        except KeyError:
            # Bare-name payload: the wire layer serializes this as the
            # reference's (branch-not-found <name>) variant
            # (lib/dcl/executor.ml:9,19).
            raise errors.BranchNotFound(name) from None

    def update_branch_tip(self, name: str, db_hash: str) -> None:
        if name not in self.branches:
            # UpdateBranchTip surfaces a missing branch as the GENERIC
            # storage error with lib/management/branch.ml:59's exact
            # message, wrapped StorageError by lib/dcl/executor.ml:70-73
            # — only Checkout/GetBranchTip/Merge use the BranchNotFound
            # variant.
            raise errors.StorageError(f"Branch not found: {name}")
        if not self.store.has_manifest(db_hash):
            raise errors.UnknownBranch(f"unknown database hash: {db_hash}")
        self.branches[name] = db_hash
        self._save()

    def merge(
        self,
        spark: SparkSession,
        left: str,
        right: str,
        strategy: str = PREFER_LEFT,
    ) -> tuple[Database, list[str]]:
        """Merge branch `right` into `left`; returns (merged db, conflicts)
        and advances `left`'s tip."""
        lh, rh = self.get_branch_tip(left), self.get_branch_tip(right)
        res = merge_databases(spark, self.store, lh, rh, strategy)
        base = Database.load(spark, lh, self.store)
        # Install merged tuple sets (hash column dropped on write).
        for name in res.dropped:
            if name in base.state.relations:
                del base.state.relations[name]
        from sakura_spark.database import Relation
        from sakura_spark.hashing import TUPLE_HASH_COL

        for name, tuples in res.merged_relations.items():
            pairs = [tuple(p) for p in res.schemas[name]]
            df = tuples.drop(TUPLE_HASH_COL)
            # A merged extension that IS an existing snapshot keeps its
            # known content hash (merge.MergeResult.known_hashes) and, if
            # this process knows it, its Digest: commit then skips the
            # write+hash for it — the parquet is already in the store under
            # that key. Any other merged relation is hashed by a rescan.
            known = res.known_hashes.get(name)
            digest = self.store.digest(known) if known else None
            if name in base.state.relations:
                rel = base.state.relations[name]
                rel.df, rel.hash, rel.schema_pairs, rel.digest = df, known, pairs, digest
            else:
                base.state.relations[name] = Relation(
                    name, pairs, df, hash=known, digest=digest
                )
        # Merge-commit parents: keep both histories reachable for future LCA.
        base.history = [h for h in [lh, rh] if h] + [
            h for h in base.history if h not in (lh, rh)
        ]
        new_hash = base.commit()
        self.update_branch_tip(left, new_hash)
        return base, res.conflicts

    # --- virtual relations -------------------------------------------------

    def virtual_frames(self, spark: SparkSession) -> dict[str, DataFrame]:
        return {
            "sakura:branch": local_frame(spark, sorted(self.branches.items()), _BRANCH),
            "sakura:head": local_frame(spark, [(self.head,)] if self.head else [], _HEAD),
        }
