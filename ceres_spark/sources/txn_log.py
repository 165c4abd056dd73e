"""Delta-style transaction log: multi-writer commit protocol for the
points tables.

The reference serializes concurrent writers through in-place slice
file mutation plus retry-on-`SliceDeleted` (ceres.py ≈L790
CeresSlice.write); a distributed engine can't mutate in place, so
this log gives writers a total order instead — the same idea as
Delta Lake's `_delta_log`:

- the log is a directory of ``{version:020d}.json`` entries;
- a writer claims version v by ATOMICALLY creating that file
  (``os.link`` of a fully-written temp file — put-if-absent). If the
  name is taken, another writer won the race: re-scan and retry with
  the next version. No locks, no coordination service, optimistic
  concurrency exactly like Delta on HDFS/ABFS (on S3 the same
  protocol runs against a conditional-PUT or a DynamoDB mutex —
  swap ``_put_if_absent`` only).
- the claimed **version IS the ``arrival_seq``** stamped on that
  batch's rows, so read-path LWW (``max_by(value, arrival_seq)``)
  resolves concurrent writers by commit order — a total order is all
  LWW needs.

Because every batch is tagged with its commit version, the log also
gives time travel for free: ``read(..., as_of=v)`` filters
``arrival_seq <= v`` and sees the table exactly as of commit v;
``history()`` exposes the log as a DataFrame (Delta's DESCRIBE
HISTORY).
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

LOG_DIRNAME = "_ceres_log"
_PAD = 20


class CommitConflict(RuntimeError):
    """Raised when a commit loses the version race more than
    ``max_retries`` times in a row (pathological writer contention)."""


class TransactionLog:
    def __init__(self, root: str) -> None:
        self.dir = os.path.join(root, LOG_DIRNAME)
        os.makedirs(self.dir, exist_ok=True)

    # -- protocol -------------------------------------------------------

    def _path(self, version: int) -> str:
        return os.path.join(self.dir, f"{version:0{_PAD}d}.json")

    def latest_version(self) -> int:
        versions = [
            int(name[:-5])
            for name in os.listdir(self.dir)
            if name.endswith(".json") and name[:-5].isdigit()
        ]
        return max(versions, default=0)

    def _put_if_absent(self, tmp: str, dst: str) -> bool:
        """Atomic create-if-missing of a fully-written file. POSIX
        ``link`` either installs the complete entry or fails with
        EEXIST — readers never observe a partial entry."""
        try:
            os.link(tmp, dst)
            return True
        except FileExistsError:
            return False

    def commit(self, max_retries: int = 1000, **meta) -> int:
        """Claim the next version, durably recording ``meta``.
        Returns the claimed version (= the batch's arrival_seq)."""
        fd, tmp = tempfile.mkstemp(dir=self.dir, suffix=".tmp")
        try:
            for _ in range(max_retries):
                version = self.latest_version() + 1
                entry = {"version": version, **meta}
                with os.fdopen(os.open(tmp, os.O_WRONLY | os.O_TRUNC), "w") as f:
                    json.dump(entry, f)
                if self._put_if_absent(tmp, self._path(version)):
                    return version
            raise CommitConflict(
                f"lost the version race {max_retries} times in {self.dir}"
            )
        finally:
            os.close(fd)
            os.unlink(tmp)

    # -- inspection -----------------------------------------------------

    def entries(self, up_to: int | None = None) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.dir)):
            if not (name.endswith(".json") and name[:-5].isdigit()):
                continue
            if up_to is not None and int(name[:-5]) > up_to:
                break
            with open(os.path.join(self.dir, name)) as f:
                out.append(json.load(f))
        return out

    def history(self, spark: SparkSession) -> DataFrame:
        """The log as a DataFrame, newest first (DESCRIBE HISTORY).
        The log is O(commits) driver-side metadata, never data-sized —
        same assumption Delta makes before checkpointing."""
        rows = [
            (
                e["version"],
                e.get("action"),
                e.get("metric"),
                int(e["step"]) if e.get("step") is not None else None,
                int(e["n_rows"]) if e.get("n_rows") is not None else None,
            )
            for e in self.entries()
        ]
        from ceres_spark.sources.tables import local_rows

        return local_rows(
            spark,
            rows,
            "version long, action string, metric string, step int, n_rows long",
        ).orderBy("version", ascending=False)
