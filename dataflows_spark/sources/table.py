"""SnapshotTable — a minimal keyed table with atomic snapshot commits.

The engine's canonical table format is **Apache Iceberg** (MERGE INTO,
snapshot isolation, partition pruning). The runtime jar is not present
in this sandbox, so this class provides a drop-in parquet fallback with
the same two operations the engine needs:

- ``merge(df, keys)`` — upsert: new snapshot = (current ⟕ anti-join on
  keys) ∪ batch; readers always see a complete snapshot via an
  atomically-swapped pointer file (the reference's atomic
  ``.active``-rename pattern, ``processors/stream.py:6,36``, applied at
  table granularity — and the same commit protocol Iceberg uses with
  its metadata pointer).
- ``read(spark)`` — read the current snapshot; ``read(spark, version=k)``
  time-travels to an earlier retained snapshot (Iceberg
  ``VERSION AS OF`` analog); ``history()`` lists commits; ``rollback(k)``
  re-commits an old snapshot as current.

At 100 TB, merge-as-rewrite is the wrong physical strategy — Iceberg's
MERGE INTO with file-level skipping is the real path; this fallback
keeps the *semantics* testable in-sandbox. ``iceberg_available()``
gates which path is used.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg runtime is loadable by Spark. Probes
    Spark's OWN class resolution first (``Utils.classForName`` → the
    session's MutableURLClassLoader, which sees ``--jars``/
    ``--packages`` additions the JVM application classloader does NOT —
    round-3 review finding #5), falling back to the context
    classloader and plain ``Class.forName``. A bare py4j attribute walk
    (``spark._jvm.org.apache.iceberg.Table``) returns a ``JavaPackage``
    placeholder instead of raising, so it can never say no."""
    name = "org.apache.iceberg.Table"
    jvm = spark._jvm
    for probe in (
        lambda: jvm.org.apache.spark.util.Utils.classForName(name, False, False),
        lambda: jvm.java.lang.Thread.currentThread().getContextClassLoader().loadClass(name),
        lambda: jvm.java.lang.Class.forName(name),
    ):
        try:
            probe()
            return True
        except Exception:
            continue
    return False


class SnapshotTable:
    def __init__(self, path: str, retain: int = 3):
        self.path = path
        #: snapshots kept for time travel; older ones are expired on
        #: commit (Iceberg's expire_snapshots, applied eagerly)
        self.retain = max(1, retain)
        os.makedirs(path, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_current")

    @property
    def _history(self) -> str:
        return os.path.join(self.path, "_history.jsonl")

    def current_snapshot(self) -> str | None:
        try:
            with open(self._pointer) as fh:
                name = fh.read().strip()
            return os.path.join(self.path, name) if name else None
        except FileNotFoundError:
            return None

    def history(self) -> list[dict]:
        """Commit log, oldest first: [{'version', 'snapshot'}...]."""
        import json

        try:
            with open(self._history) as fh:
                return [json.loads(line) for line in fh if line.strip()]
        except FileNotFoundError:
            return []

    def _commit(self, snap_name: str) -> None:
        import json

        tmp = f"{self._pointer}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            fh.write(snap_name)
        hist = self.history()
        version = (hist[-1]["version"] + 1) if hist else 0
        with open(self._history, "a") as fh:
            fh.write(json.dumps({"version": version, "snapshot": snap_name}) + "\n")
        os.replace(tmp, self._pointer)  # the atomic pointer swap IS the commit
        # expire snapshots beyond the retention window (never the current)
        live = {h["snapshot"] for h in self.history()[-self.retain :]} | {snap_name}
        for h in hist:
            d = os.path.join(self.path, h["snapshot"])
            if h["snapshot"] not in live and os.path.exists(d):
                shutil.rmtree(d, ignore_errors=True)

    def exists(self) -> bool:
        return self.current_snapshot() is not None

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Current snapshot, or time-travel to a retained ``version``
        (Iceberg ``VERSION AS OF`` analog)."""
        if version is None:
            snap = self.current_snapshot()
            if snap is None:
                raise FileNotFoundError(f"table {self.path} has no snapshot")
            return spark.read.parquet(snap)
        match = [h for h in self.history() if h["version"] == version]
        if not match:
            raise FileNotFoundError(f"table {self.path} has no version {version}")
        snap = os.path.join(self.path, match[0]["snapshot"])
        if not os.path.exists(snap):
            raise FileNotFoundError(f"version {version} expired (retain={self.retain})")
        return spark.read.parquet(snap)

    def rollback(self, version: int) -> None:
        """Re-commit a retained old snapshot as current."""
        match = [h for h in self.history() if h["version"] == version]
        if not match or not os.path.exists(os.path.join(self.path, match[0]["snapshot"])):
            raise FileNotFoundError(f"cannot roll back to version {version}")
        self._commit(match[0]["snapshot"])

    def overwrite(self, df: DataFrame) -> None:
        snap_name = f"snap-{uuid.uuid4().hex[:12]}"
        df.write.mode("overwrite").parquet(os.path.join(self.path, snap_name))
        self._commit(snap_name)

    def merge(self, batch: DataFrame, keys: list[str]) -> None:
        """Upsert: rows in ``batch`` replace current rows with equal keys."""
        current = self.current_snapshot()
        if current is None:
            self.overwrite(batch)
            return
        spark = batch.sparkSession
        existing = spark.read.parquet(current)
        # a left_anti result does not depend on duplicate right-side keys
        kept = existing.join(batch.select(*keys), on=keys, how="left_anti")
        self.overwrite(kept.unionByName(batch))
