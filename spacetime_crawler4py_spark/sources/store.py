"""Parquet snapshot store with Iceberg-style semantics.

The north_rule targets Iceberg tables; this container ships no Iceberg
runtime jar, so this module provides the same *contract* over plain
parquet — the engine talks to this interface only, and an Iceberg-backed
implementation is a drop-in (MERGE INTO ≙ append+compact here; snapshot
reads ≙ versioned manifests):

* **append(name, df)**   — atomic delta commit (new parquet dir + manifest
  swap), ≙ Iceberg fast-append snapshot. Replaces the reference's
  per-URL ``shelve.sync()`` write amplification
  (reference crawler/frontier.py:95,107) with one commit per batch.
* **compact(name, df)**  — rewrite the table to a single base, ≙ Iceberg
  rewrite/compaction; keeps read fan-in bounded for append-heavy tables.
* **read(name)**         — current snapshot as a DataFrame.
* **read_version(name, v)** — time travel to an older manifest, which is
  what crash-resume tests restore from (reference resume semantics,
  crawler/frontier.py:48-59).

Manifests are JSON files swapped with ``os.replace`` (atomic on POSIX);
every manifest version is retained, so a reader never sees a partial
commit and history stays navigable.

Each manifest also records the table's schema (the Spark ``StructType``
JSON), ≙ the schema in Iceberg table metadata: a read declares it, so
Spark never launches a job to open a parquet footer and infer it. The
first commit's schema stands, as it did when reads inferred from the
first path's file; ``compact`` and ``overwrite_rows`` record the new
base's. A manifest written without a ``schema`` key is read by
inference.

Appends to *distinct* tables may run concurrently (each commit touches
only its own table's manifest), but two appends to one table may not:
both would read the same current version and the later swap would drop
the other's delta.
"""

from __future__ import annotations

import json
import os
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql.types import StructType

__all__ = ["SnapshotStore"]


class SnapshotStore:
    def __init__(self, spark: "SparkSession", base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)

    # -- manifest helpers -----------------------------------------------------
    def _tdir(self, name: str) -> str:
        d = os.path.join(self.base_dir, name)
        os.makedirs(d, exist_ok=True)
        return d

    def _manifest_path(self, name: str, version: int | None = None) -> str:
        if version is None:
            return os.path.join(self._tdir(name), "MANIFEST.json")
        return os.path.join(self._tdir(name), f"manifest-v{version:06d}.json")

    def _load_manifest(self, name: str, version: int | None = None) -> dict:
        path = self._manifest_path(name, version)
        if not os.path.exists(path):
            return {"version": 0, "paths": [], "properties": {}}
        with open(path, encoding="utf-8") as f:
            return json.load(f)

    def _commit(
        self, name: str, paths: list[str], properties: dict | None = None,
        schema: "StructType | None" = None,
    ) -> int:
        """Swap in a manifest over ``paths``; ``schema`` replaces the
        recorded one (None carries it forward)."""
        cur = self._load_manifest(name)
        version = cur["version"] + 1
        props = dict(cur.get("properties", {}))
        if properties:
            props.update(properties)
        manifest = {"version": version, "paths": paths, "properties": props}
        if schema is not None:
            manifest["schema"] = schema.jsonValue()
        elif "schema" in cur:
            manifest["schema"] = cur["schema"]
        versioned = self._manifest_path(name, version)
        # same tmp+rename dance as the current pointer below: a crash
        # mid-write must leave no torn JSON for read_version() to choke on
        vtmp = versioned + ".tmp"
        with open(vtmp, "w", encoding="utf-8") as f:
            json.dump(manifest, f)
        os.replace(vtmp, versioned)
        tmp = self._manifest_path(name) + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(name))
        return version

    # -- public API -----------------------------------------------------------
    def current_version(self, name: str) -> int:
        return self._load_manifest(name)["version"]

    def get_property(self, name: str, key: str):
        """Table property from the current manifest (≙ Iceberg table
        properties) — e.g. the sketch-scheme tag that guards resumes
        against mixing incompatible fingerprint hash schemes."""
        return self._load_manifest(name).get("properties", {}).get(key)

    def _reader(self, manifest: dict):
        """A reader declaring the manifest's recorded schema; inference
        (one footer-reading job) only for manifests that carry none."""
        if "schema" not in manifest:
            return self.spark.read
        from pyspark.sql.types import StructType

        return self.spark.read.schema(StructType.fromJson(manifest["schema"]))

    def set_property(self, name: str, key: str, value) -> int:
        cur = self._load_manifest(name)
        return self._commit(name, cur["paths"], {key: value})

    def exists(self, name: str) -> bool:
        return bool(self._load_manifest(name)["paths"])

    def append(
        self, name: str, df: "DataFrame", sort_by: list[str] | None = None
    ) -> int:
        """Atomic delta commit. ``sort_by`` globally sorts the delta before
        writing (≙ an Iceberg table write-order spec): row groups then
        carry tight min/max statistics on the leading sort column, so
        scan-time predicates on it prune at the parquet footer instead of
        reading every group — the indexed politeness dequeue writes the
        frontier sorted by ``seq`` for exactly this (plans/dequeue.py)."""
        cur = self._load_manifest(name)
        delta_dir = os.path.join(self._tdir(name), f"delta-{cur['version'] + 1:06d}")
        if sort_by:
            df = df.sort(*sort_by)
        df.write.mode("overwrite").parquet(delta_dir)
        return self._commit(
            name, cur["paths"] + [delta_dir],
            # the table's first commit fixes its schema
            schema=None if cur["paths"] else df.schema,
        )

    def append_rows(self, name: str, rows: list[dict], arrow_schema) -> int:
        """Driver-side append of a small row batch via pyarrow — same commit
        protocol, no Spark job (a per-epoch metrics row or an exact-parity
        round's collected outputs doesn't warrant cluster scheduling). The
        arrow schema must mirror the table's Spark DDL exactly so mixed
        delta dirs read back under one schema."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        cur = self._load_manifest(name)
        delta_dir = os.path.join(self._tdir(name), f"delta-{cur['version'] + 1:06d}")
        os.makedirs(delta_dir, exist_ok=True)
        table = pa.Table.from_pylist(rows, schema=arrow_schema)
        pq.write_table(table, os.path.join(delta_dir, "part-00000.parquet"))
        return self._commit(
            name, cur["paths"] + [delta_dir],
            schema=None if cur["paths"] else from_arrow_schema(arrow_schema),
        )

    def overwrite_rows(self, name: str, rows: list[dict], arrow_schema) -> int:
        """Driver-side full-snapshot replace for small state tables (e.g.
        per-domain watermarks): writes one new base via pyarrow and commits
        a manifest referencing only it — compact() semantics, no Spark job."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        base_dir = os.path.join(
            self._tdir(name), f"base-{self.current_version(name) + 1:06d}"
        )
        os.makedirs(base_dir, exist_ok=True)
        table = pa.Table.from_pylist(rows, schema=arrow_schema)
        pq.write_table(table, os.path.join(base_dir, "part-00000.parquet"))
        return self._commit(
            name, [base_dir], schema=from_arrow_schema(arrow_schema)
        )

    def compact(
        self, name: str, df: "DataFrame | None" = None,
        sort_by: list[str] | None = None, properties: dict | None = None,
    ) -> int:
        """Rewrite the table as one base dir. With df=None, compacts the
        current contents (must be materialized before the manifest swap,
        hence the write-then-commit order). ``sort_by`` re-establishes the
        table's write order (see append) across the whole base.
        ``properties`` are updated in the same manifest swap as the rows."""
        if df is None:
            df = self.read(name)
        if sort_by:
            df = df.sort(*sort_by)
        base_dir = os.path.join(
            self._tdir(name), f"base-{self.current_version(name) + 1:06d}"
        )
        df.write.mode("overwrite").parquet(base_dir)
        return self._commit(name, [base_dir], properties, schema=df.schema)

    def compact_tail(
        self,
        name: str,
        ratio: float = 2.0,
        min_merge: int = 2,
        sort_by: list[str] | None = None,
    ) -> int | None:
        """Tiered (size-ratio) compaction for append-heavy tables: merge the
        maximal *suffix* of manifest paths that is not dwarfed by the path
        before it (extend the merge window leftward while the preceding
        path's bytes <= ``ratio`` x the accumulated suffix bytes). Path
        sizes then stay geometric from the tail backwards, so read fan-in
        is O(log n) deltas and each row is rewritten O(log n) times over
        the table's lifetime — vs compact()'s full rewrite, whose repeated
        use is O(n^2) I/O on a long crawl (SURVEY §2.9b). Returns the new
        manifest version, or None when the tail is too small to merge."""
        manifest = self._load_manifest(name)
        paths = manifest["paths"]
        if len(paths) < min_merge:
            return None
        sizes = [self._dir_bytes(p) for p in paths]
        cum = 0
        j = len(paths)
        for i in range(len(paths) - 1, -1, -1):
            if cum > 0 and sizes[i] > ratio * cum:
                break
            cum += sizes[i]
            j = i
        if len(paths) - j < min_merge:
            return None
        df = self._reader(manifest).parquet(*paths[j:])
        if sort_by:
            df = df.sort(*sort_by)
        merged_dir = os.path.join(
            self._tdir(name), f"tier-{manifest['version'] + 1:06d}"
        )
        df.write.mode("overwrite").parquet(merged_dir)
        return self._commit(name, paths[:j] + [merged_dir])

    @staticmethod
    def _dir_bytes(path: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return total

    def read(self, name: str, version: int | None = None) -> "DataFrame":
        manifest = self._load_manifest(name, version)
        if not manifest["paths"]:
            raise FileNotFoundError(f"table {name} is empty (no snapshot)")
        return self._reader(manifest).parquet(*manifest["paths"])

    def read_or_none(self, name: str, version: int | None = None):
        try:
            return self.read(name, version)
        except FileNotFoundError:
            return None

    def read_last_delta(self, name: str) -> "DataFrame":
        """The most recently committed path only (e.g. this epoch's new
        rows) — a cheap read-back that avoids recomputing its lineage."""
        manifest = self._load_manifest(name)
        if not manifest["paths"]:
            raise FileNotFoundError(f"table {name} is empty (no snapshot)")
        return self._reader(manifest).parquet(manifest["paths"][-1])
