"""Content-addressed snapshot store.

The reference persists every value/tuple/relation/database under its
SHA-256 in a KV backend (lib/management/physical.ml). Our unit of storage
is the *relation snapshot*: a parquet directory keyed by the relation's
content hash — columnar, splittable, and written/read by distributed Spark
jobs, which is the 100 TB-appropriate granularity (per-tuple KV writes are
a single-node design; parquet row groups give us the same dedup-by-content
at file level since identical content hashes to the same key and is written
once).

Database states are small JSON manifests (relation name -> {hash, schema,
constraints}) keyed by the database hash — the Merkle root. History,
branches and merge all operate on these manifests without touching data
files; checkout is O(manifest).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from sakura_spark.hashing import Digest


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field and element nullable — the schema Spark
    gives any parquet file it reads back."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


class SnapshotStore:
    def __init__(self, root: str | None = None):
        self.root = root or tempfile.mkdtemp(prefix="sakura_store_")
        os.makedirs(os.path.join(self.root, "relations"), exist_ok=True)
        os.makedirs(os.path.join(self.root, "manifests"), exist_ok=True)
        # Per-hash facts this process learned (``remember``). A snapshot is
        # content-addressed, so both are immutable per key:
        # * the Spark schema — passing it explicitly skips the per-read
        #   parquet schema-inference job (checkout, diff, merge and time
        #   travel all read snapshots repeatedly);
        # * the relation's hashing Digest — Database.load, checkout and
        #   the wire server's conflict replay hand it to the loaded
        #   relation, whose next statement then derives its hash from its
        #   delta instead of rescanning.
        self._schema_cache: dict[str, T.StructType] = {}
        self._digests: dict[str, Digest] = {}

    # --- relation snapshots (parquet, content-addressed) -------------------

    def relation_path(self, rel_hash: str) -> str:
        return os.path.join(self.root, "relations", rel_hash)

    @contextmanager
    def staging(self) -> Iterator[str]:
        """A fresh path to write a relation's parquet to before it has a
        key; ``publish`` moves it to its key. Whatever is left there is
        removed on exit, also when the write raises, so a failed write
        never leaves anything that ``has_relation`` could report."""
        tmp = tempfile.mkdtemp(dir=os.path.join(self.root, "relations"), prefix="__staging_")
        try:
            yield os.path.join(tmp, "data")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def publish(self, staged: str, rel_hash: str) -> None:
        """Move a complete staged write to its content-addressed key. An
        existing key already holds the same content, so it is kept."""
        final = self.relation_path(rel_hash)
        if os.path.exists(final):
            return
        try:
            os.replace(staged, final)
        except OSError:
            # Another writer published the same key in between.
            if not os.path.exists(final):
                raise

    def put_relation(self, rel_hash: str, df: DataFrame) -> str:
        """Write-once: identical content arrives at the same key and is
        skipped (the reference's value dedup, docs/architecture.org:147-157).
        The parquet is staged and moved into place complete."""
        path = self.relation_path(rel_hash)
        if not os.path.exists(path):
            with self.staging() as staged:
                df.write.parquet(staged)
                self.publish(staged, rel_hash)
        return path

    def remember(
        self, rel_hash: str, schema: T.StructType, digest: Digest | None = None
    ) -> None:
        """Record what this process knows of the snapshot at ``rel_hash``:
        its schema (stored as Spark reads it back, every field nullable)
        and, when known, its hashing Digest."""
        self._schema_cache.setdefault(rel_hash, _nullable(schema))
        if digest is not None:
            self._digests[rel_hash] = digest

    def digest(self, rel_hash: str) -> Digest | None:
        """The Digest remembered for ``rel_hash``, or None."""
        return self._digests.get(rel_hash)

    def get_relation(self, spark: SparkSession, rel_hash: str) -> DataFrame:
        schema = self._schema_cache.get(rel_hash)
        if schema is not None:
            return spark.read.schema(schema).parquet(self.relation_path(rel_hash))
        df = spark.read.parquet(self.relation_path(rel_hash))
        self._schema_cache[rel_hash] = df.schema
        return df

    def has_relation(self, rel_hash: str) -> bool:
        return os.path.exists(self.relation_path(rel_hash))

    # --- database manifests (JSON, content-addressed) ----------------------

    def _manifest_path(self, db_hash: str) -> str:
        return os.path.join(self.root, "manifests", db_hash + ".json")

    def put_manifest(self, db_hash: str, manifest: dict) -> None:
        """Write a database manifest; on hash collision (a state reached
        again via a different mutation path — e.g. deleting every inserted
        row re-creates an earlier content hash), MERGE the two recorded
        histories instead of keeping the first writer's. A write-once
        manifest would pin the original path's shallow chain, and a later
        LCA search walking the other branch would miss the true common
        ancestor and silently resurrect that branch's deletions."""
        path = self._manifest_path(db_hash)
        if os.path.exists(path):
            with open(path) as f:
                old = json.load(f)
            new_hist = list(manifest.get("history", []))
            seen = set(new_hist)
            extra = [h for h in old.get("history", []) if h not in seen]
            if extra:
                manifest = {**manifest, "history": new_hist + extra}
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, sort_keys=True)
        os.replace(tmp, path)

    def get_manifest(self, db_hash: str) -> dict:
        with open(self._manifest_path(db_hash)) as f:
            return json.load(f)

    def has_manifest(self, db_hash: str) -> bool:
        return os.path.exists(self._manifest_path(db_hash))
