"""CeresTree / CeresNode — the storage API, Spark-native.

Reference surface (ceres.py): ``CeresTree`` (≈L78-330) owns a rooted
directory hierarchy marked by ``.ceres-tree/``; ``CeresNode``
(≈L333-700) is one metric backed by a ``.ceres-node`` JSON metadata
file plus slice files; ``createTree/createNode/getNode/store/fetch/
find/walk`` are the public ops (SURVEY.md §2 ops #1-4, #9-10, #17-18,
#26-28).

Spark-native re-expression:

- the tree root is a **warehouse directory** holding one small
  ``catalog`` parquet (all node metadata — replaces millions of
  ``.ceres-node`` files, the known ceres scale failure) and one tall
  ``points`` parquet dataset per resolution
  (``points/step=<timeStep>/``), **partitioned by UTC date**
  (``operators/compact.utc_date``, shared by every writer and pruner)
  so time-range fetches prune partitions before any I/O.
- writes are **append-only**: ``store`` stamps each batch with a
  monotonically increasing ``arrival_seq`` and appends; ceres's
  in-place last-writer-wins byte overwrites (CeresSlice.write ≈L790)
  become LWW dedup on the read path — no mutation, no SliceDeleted
  races, safe under concurrent writers.
- ``fetch`` is the dense read kernel from operators/series.py;
  fetching an unknown metric raises :class:`NodeNotFound` while an
  empty range of a known metric returns a dense all-NULL series —
  the reference's error-vs-empty distinction (ceres.py ≈L310).

At 100 TB: the catalog stays tiny (one row per metric) and is
broadcast into every fetch; the points dataset is the only big thing,
and every access path here reaches it through (date partition prune +
metric/ts predicate pushdown).
"""

from __future__ import annotations

import json
import os
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import ceres_spark.catalog as cat
import ceres_spark.operators.compact as cp
import ceres_spark.operators.series as ser
import ceres_spark.sources.tables as tbl
import ceres_spark.sources.txn_log as txn
from ceres_spark.errors import CorruptNode, NodeNotFound

TREE_MARKER = ".ceres-tree"
DEFAULT_TIMESTEP = 60  # ceres.py ≈L45


class CeresTree:
    """A warehouse of metrics. ``root`` is any writable directory."""

    def __init__(self, spark: SparkSession, root: str):
        if not os.path.isdir(os.path.join(root, TREE_MARKER)):
            raise ValueError(f"{root} is not a ceres tree")
        self.spark = spark
        self.root = root
        self._log: txn.TransactionLog | None = None

    # -- creation (ops #1-2) -------------------------------------------

    @classmethod
    def create_tree(
        cls, spark: SparkSession, root: str, **props: Any
    ) -> "CeresTree":
        """Op #1 (CeresTree.createTree ≈L100): mark the root and store
        tree-level props (JSON instead of one-file-per-prop)."""
        marker = os.path.join(root, TREE_MARKER)
        os.makedirs(marker, exist_ok=True)
        with open(os.path.join(marker, "props.json"), "w") as f:
            json.dump(props, f)
        return cls(spark, root)

    @staticmethod
    def get_tree(spark: SparkSession, path: str) -> "CeresTree | None":
        """Module fn getTree (≈L62): walk up to the owning tree."""
        p = os.path.abspath(path)
        while True:
            if os.path.isdir(os.path.join(p, TREE_MARKER)):
                return CeresTree(spark, p)
            parent = os.path.dirname(p)
            if parent == p:
                return None
            p = parent

    # -- catalog (ops #2-4, #26) ---------------------------------------

    def _catalog_path(self) -> str:
        return os.path.join(self.root, "catalog")

    def catalog(self) -> DataFrame:
        path = self._catalog_path()
        if not os.path.exists(path):
            return self.spark.createDataFrame([], cat.CATALOG_SCHEMA)
        return self.spark.read.parquet(path)

    def _write_catalog(self, df: DataFrame) -> None:
        # catalog is tiny (1 row/metric): single-file overwrite via temp
        tmp = self._catalog_path() + "__tmp"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        final = self._catalog_path()
        bak = final + "__old"
        if os.path.exists(final):
            os.rename(final, bak)
        os.rename(tmp, final)
        if os.path.exists(bak):
            import shutil

            shutil.rmtree(bak)

    def create_node(self, node_path: str, **properties: Any) -> "CeresNode":
        """Op #2 (CeresNode.create ≈L360): upsert catalog row with
        defaults timeStep=60, aggregationMethod='average'."""
        new = cat.make_catalog(self.spark, [{"metric": node_path, **properties}])
        existing = self.catalog().filter(F.col("metric") != node_path)
        self._write_catalog(existing.unionByName(new))
        return CeresNode(self, node_path)

    def has_node(self, node_path: str) -> bool:
        return (
            self.catalog().filter(F.col("metric") == node_path).limit(1).count()
            > 0
        )

    def _catalog_rows(self, node_path: str) -> list:
        return self.catalog().filter(F.col("metric") == node_path).collect()

    def get_node(self, node_path: str) -> "CeresNode":
        """Op #26 analogue — raises NodeNotFound like getNode ≈L200.
        One catalog query: the row it finds also primes the node's
        metadata, so a read right after it runs no second lookup."""
        rows = self._catalog_rows(node_path)
        if not rows:
            raise NodeNotFound(f"Node {node_path!r} does not exist in {self.root}")
        node = CeresNode(self, node_path)
        if rows[0]["timeStep"] is not None:  # else read_metadata raises
            node._meta = rows[0].asDict()
        return node

    def delete_node(self, node_path: str) -> None:
        node = self.get_node(node_path)  # NodeNotFound if absent
        self._write_catalog(self.catalog().filter(F.col("metric") != node_path))
        # data rows stay until the retention/compaction job sweeps them;
        # fetch is already impossible (catalog is the source of truth)
        del node

    # -- data (ops #10, #17-18) ----------------------------------------

    def points_path(self, step: int = DEFAULT_TIMESTEP) -> str:
        return os.path.join(self.root, "points", f"step={int(step)}")

    def points(self, step: int = DEFAULT_TIMESTEP) -> DataFrame:
        path = self.points_path(step)
        if not os.path.exists(path):
            return self.spark.createDataFrame(
                [], "metric string, ts long, value double, arrival_seq long, date date"
            )
        return self.spark.read.parquet(path)

    def check(self, step: int = DEFAULT_TIMESTEP) -> DataFrame:
        """slicecheck for the parquet warehouse (op #9, the engine-
        native analogue of :func:`slice_format.slicecheck`): one
        distributed aggregate over a step table counting invariant
        violations — timestamps off the step grid, NaN values (the
        engine's null is SQL NULL; NaN means a boundary conversion
        was skipped), and duplicate (metric, ts, arrival_seq) rows
        (same batch may never write one bucket twice — cross-batch
        duplicates are legal and resolved by LWW).

        Returns one row: ``n_rows, n_misaligned, n_nan, n_dups``.
        """
        pts = self.points(step)
        dups = (
            pts.groupBy("metric", "ts", "arrival_seq")
            .agg(F.count("*").alias("_c"))
            .filter(F.col("_c") > 1)
            .agg(F.coalesce(F.sum("_c"), F.lit(0)).alias("n_dups"))
        )
        stats = pts.agg(
            F.count("*").alias("n_rows"),
            F.sum(
                (F.col("ts") % F.lit(int(step)) != 0).cast("long")
            ).alias("n_misaligned"),
            F.sum(F.isnan("value").cast("long")).alias("n_nan"),
        )
        return stats.join(dups)

    def log(self) -> txn.TransactionLog:
        """The tree's transaction log (created on first use)."""
        if self._log is None:
            self._log = txn.TransactionLog(self.root)
        return self._log

    def _next_arrival_seq(self, step: int, **meta) -> int:
        """Monotone write-order stamp = a transaction-log commit —
        multi-writer safe (atomic put-if-absent claims the version;
        losers retry), O(1), no table scan. (The streaming path uses
        batchId instead — one sequencer per table, never both.)"""
        return self.log().commit(step=int(step), **meta)

    def history(self) -> DataFrame:
        """Commit history as a DataFrame, newest first (the Delta
        DESCRIBE HISTORY analogue)."""
        return self.log().history(self.spark)

    def store(self, node_path: str, datapoints: DataFrame) -> None:
        """Op #18 (CeresTree.store ≈L295) → node.write. ``datapoints``
        is a DataFrame with (ts long epoch-s, value double)."""
        self.get_node(node_path).write(datapoints)

    def fetch(self, node_path: str, from_time: int, until_time: int) -> DataFrame:
        """Op #10 (CeresTree.fetch ≈L310): dense read at the node's
        timeStep using its aggregationMethod for bucket reconciliation."""
        return self.get_node(node_path).read(from_time, until_time)

    def slices(self) -> DataFrame:
        """Op #15 (CeresNode.readSlices ≈L465): the storage inventory,
        as data — one row per (resolution, date partition) with file
        and row counts, newest first (the reference's descending slice
        ordering). What slicecheck/defrag tooling consumes."""
        rows = []
        for step in self.resolutions():
            base = self.points_path(step)
            for d in sorted(os.listdir(base)):
                if not d.startswith("date="):
                    continue
                pdir = os.path.join(base, d)
                files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
                rows.append((step, d.split("=", 1)[1], len(files)))
        df = tbl.local_rows(
            self.spark, rows or [], "step int, date string, n_files int"
        )
        counts = None
        for step in self.resolutions():
            c = self.points(step).groupBy(
                F.lit(step).alias("step"),
                F.col("date").cast("string").alias("date"),
            ).agg(F.count("*").alias("n_rows"))
            counts = c if counts is None else counts.unionByName(c)
        if counts is None:
            return df.withColumn("n_rows", F.lit(0).cast("long"))
        return df.join(counts, ["step", "date"], "left").orderBy(
            F.desc("date"), F.asc("step")
        )

    def resolutions(self) -> list[int]:
        """Steps with materialized points tables (sorted fine→coarse)."""
        base = os.path.join(self.root, "points")
        if not os.path.isdir(base):
            return []
        steps = []
        for d in os.listdir(base):
            if d.startswith("step="):
                try:
                    steps.append(int(d.split("=", 1)[1]))
                except ValueError:
                    pass
        return sorted(steps)

    def read_multi(
        self, node_path: str, from_time: int, until_time: int
    ) -> DataFrame:
        """Cross-resolution dense fetch (op #13) over every
        materialized resolution table — the read path after the
        rollup/expiry maintenance jobs have moved old data into
        coarser archives (the complete ceres lifecycle)."""
        import ceres_spark.operators.resolution as resmod

        node = self.get_node(node_path)  # NodeNotFound if absent
        tables = {}
        for step in self.resolutions():
            pts = self.points(step).filter(F.col("metric") == node_path)
            tables[step] = cp.lww_dedup(pts)
        if not tables:
            tables = {node.time_step: self.points(node.time_step)}
        metrics = tbl.local_rows(
            self.spark, [(node_path,)], "metric string"
        )
        return resmod.read_multi_resolution(
            tables, metrics, from_time, until_time, node.aggregation_method
        )

    # -- caching (ops #26-27) ------------------------------------------

    def set_node_caching_behavior(self, behavior: str) -> None:
        """Op #26 (CeresTree.setNodeCachingBehavior ≈L200): 'all'
        caches the catalog DataFrame (it is small and hot in every
        fetch), 'none' releases it."""
        if behavior not in ("all", "none"):
            raise ValueError(f"invalid caching behavior {behavior!r}")
        df = self.catalog()
        if behavior == "all":
            df.cache()
        else:
            self.spark.catalog.clearCache()

    def clear_slice_cache(self, step: int = DEFAULT_TIMESTEP) -> None:
        """Op #27 analogue (CeresNode.clearSliceCache ≈L640): drop
        Spark's cached file listing/metadata so new files written by
        other processes become visible — the REFRESH TABLE analogue."""
        self.spark.catalog.refreshByPath(self.points_path(step))

    # -- discovery (op #12) --------------------------------------------

    def find(
        self,
        pattern: str,
        from_time: int | None = None,
        until_time: int | None = None,
        braces: bool = False,
    ) -> Iterator["CeresNode"]:
        points = None
        if from_time is not None or until_time is not None:
            points = self.points()
        rows = cat.find(
            self.catalog(), pattern, points, from_time, until_time,
            braces=braces,
        ).collect()
        for r in rows:
            yield CeresNode(self, r["metric"])

    def walk(self) -> Iterator["CeresNode"]:
        """Op #23 driver support (CeresTree.walk ≈L120). Node-at-a-
        time handles for CLI parity with bin/ceres-maintenance;
        data-path maintenance should use :meth:`maintenance_run`,
        which dispatches the whole tree as ONE Spark job."""
        for r in self.catalog().select("metric").collect():
            yield CeresNode(self, r["metric"])

    def maintenance_run(self, plugin_fn, step: int = DEFAULT_TIMESTEP):
        """DataFrame-native maintenance dispatch (op #23 at scale):
        instead of the reference's per-node plugin protocol
        (bin/ceres-maintenance walks the tree calling
        ``node_found(node)`` once per metric — a driver loop), the
        plugin receives the FULL catalog and points frames and
        expresses per-node behavior with joins on ``metric``. One
        Spark job over any number of nodes; see
        ``operators.retention.rollup_catalog`` for the built-in
        rollup plugin shape.

        ``plugin_fn(catalog: DataFrame, points: DataFrame) -> DataFrame``
        """
        return plugin_fn(self.catalog(), self.points(step))

    # -- commit staging recovery (ADVICE r11 / op #17 failure path) -------

    def _apply_staging(self, staging: str, step: int, seq: int) -> None:
        """Move a staged commit's part files into the points dataset,
        then remove the staging dir. IDEMPOTENT: destination names are
        deterministic (``part-c{seq}-{src}``) and ``os.rename``
        removes the source, so re-applying after a mid-loop crash
        moves exactly the not-yet-moved remainder. Runs under the
        single-writer-per-staging contract (each staging dir belongs
        to one commit; cleanup runs under the single-maintainer
        contract documented in SURVEY §2.12)."""
        import shutil

        target = self.points_path(step)
        for d in sorted(os.listdir(staging)):
            if not d.startswith("date="):
                continue
            src_dir = os.path.join(staging, d)
            dst_dir = os.path.join(target, d)
            os.makedirs(dst_dir, exist_ok=True)
            for f in sorted(os.listdir(src_dir)):
                if not f.endswith(".parquet"):
                    continue
                os.rename(
                    os.path.join(src_dir, f),
                    os.path.join(dst_dir, f"part-c{seq}-{f}"),
                )
        shutil.rmtree(staging, ignore_errors=True)

    def staging_dirs(self) -> list[str]:
        """Leftover per-commit staging dirs under the tree root —
        empty in steady state; non-empty means a writer failed or
        crashed (see :meth:`CeresNode.write` failure contract)."""
        return sorted(
            d for d in os.listdir(self.root) if d.startswith(".staging-")
        )

    def cleanup_stagings(self, grace_seconds: float = 3600.0) -> dict:
        """Detect and resolve orphaned commit stagings (maintenance
        op, ADVICE r11). Three cases per leftover dir:

        - young and unmarked → possibly a LIVE writer (the grace
          window gates EVERY action except explicit ``_FAILED`` dirs,
          so cleanup can never race a writer's own move loop); skip.
        - ``_FAILED`` (writer raised and exited) or past grace, with
          ``_SUCCESS`` + ``_COMMIT`` → the parquet write finished;
          ROLL FORWARD: re-apply the idempotent move loop so the
          commit becomes whole (its txn-log entry was already written
          before the data, so log order is preserved), then remove.
        - ``_FAILED`` or past grace, without both markers → garbage
          from a crash mid-parquet-write (nothing reached the target:
          the move loop only starts after ``_COMMIT`` lands); remove.

        Returns ``{"rolled_forward": [...], "removed": [...],
        "skipped": [...]}`` (dir basenames). Single-maintainer
        contract: at most one cleanup runs at a time."""
        import shutil
        import time

        out: dict = {"rolled_forward": [], "removed": [], "skipped": []}
        for d in self.staging_dirs():
            path = os.path.join(self.root, d)
            manifest = os.path.join(path, "_COMMIT")
            failed = os.path.exists(os.path.join(path, "_FAILED"))
            try:
                age = time.time() - os.path.getmtime(path)
            except OSError:
                continue  # vanished under us (writer finished)
            if not failed and age < grace_seconds:
                out["skipped"].append(d)
                continue
            if (
                os.path.exists(os.path.join(path, "_SUCCESS"))
                and os.path.exists(manifest)
            ):
                with open(manifest) as fh:
                    m = json.load(fh)
                self._apply_staging(path, int(m["step"]), int(m["seq"]))
                out["rolled_forward"].append(d)
            else:
                shutil.rmtree(path, ignore_errors=True)
                out["removed"].append(d)
        return out


class CeresNode:
    """One metric. Thin handle over (tree catalog row + points rows)."""

    __slots__ = ("tree", "node_path", "_meta")

    def __init__(self, tree: CeresTree, node_path: str):
        self.tree = tree
        self.node_path = node_path
        self._meta: dict | None = None

    # -- metadata (ops #3-4) -------------------------------------------

    def read_metadata(self) -> dict:
        rows = self.tree._catalog_rows(self.node_path)
        if not rows:
            raise CorruptNode(self, "missing catalog entry")
        d = rows[0].asDict()
        if d.get("timeStep") is None:
            raise CorruptNode(self, "missing required key 'timeStep'")
        self._meta = d
        return d

    def write_metadata(self, metadata: dict) -> None:
        self.tree.create_node(self.node_path, **metadata)
        self._meta = None

    @property
    def time_step(self) -> int:
        if self._meta is None:
            self.read_metadata()
        return int(self._meta["timeStep"])

    @property
    def aggregation_method(self) -> str:
        if self._meta is None:
            self.read_metadata()
        return self._meta.get("aggregationMethod") or "average"

    # -- write (op #17) --------------------------------------------------

    def write(self, datapoints: DataFrame) -> None:
        """Append-only write. compact() semantics (quantize + LWW) are
        applied within the batch; cross-batch LWW is resolved at read
        time via arrival_seq — the distributed analogue of ceres's
        in-place overwrite (CeresSlice.write ≈L790). Arbitrary
        lateness is accepted, exactly like the reference.

        Physical commit protocol (r11, failure path hardened r12):
        each commit writes to its OWN staging directory and then moves
        part files into the target's date partitions. A bare
        ``append`` to a shared path is NOT multi-writer safe —
        concurrent Spark jobs share Hadoop's ``_temporary/0`` staging
        under the target, and the first job to commit DELETES it out
        from under the others (``Mkdirs failed to create
        …/_temporary/…`` — caught by the two-racing-writers test,
        which the txn log alone cannot fix: it serializes LOGICAL
        order, not physical staging). Per-commit staging + rename is
        the same split Delta's commit protocol makes; on a local/posix
        fs the renames are atomic per file, and the staged names carry
        the commit version so two commits can never collide on a file
        name.

        Failure contract (ADVICE r11): if the rename loop fails
        midway, the staging directory is KEPT (with a ``_FAILED``
        marker), never deleted — deleting it would discard the
        not-yet-moved part files and leave a partial commit that only
        a caller retry could shadow. Instead the commit is
        roll-forward recoverable: staging carries a ``_COMMIT``
        manifest (seq + step), the per-file destination names are
        deterministic (``part-c{seq}-{src}``) so re-applying the move
        loop is idempotent, and :meth:`CeresTree.cleanup_stagings`
        COMPLETES any staging whose parquet write finished
        (``_SUCCESS`` + ``_COMMIT`` present) before removing it. A
        staging dir without ``_SUCCESS``/``_COMMIT`` (crash during the
        parquet write — nothing reached the target) is plain garbage
        and is removed after a grace period. Callers may ALSO simply
        retry ``store()``: the retry's higher arrival_seq shadows any
        partial rows via read-time LWW; cleanup then discards the
        stale staging without harm (its rows lose every LWW race).
        """
        import uuid

        step = self.time_step
        seq = self.tree._next_arrival_seq(
            step, action="write", metric=self.node_path
        )
        batch = cp.store_rows(
            datapoints,
            F.lit(self.node_path),
            F.lit(seq).cast("long"),
            step,
            seq,
        )
        staging = os.path.join(
            self.tree.root, f".staging-{seq}-{uuid.uuid4().hex}"
        )
        try:
            (
                batch.write.mode("overwrite")
                .partitionBy("date")
                .parquet(staging)
            )
            # manifest AFTER the parquet write (mode=overwrite clears
            # the dir first) — _SUCCESS + _COMMIT together mark the
            # staging roll-forward-safe for cleanup_stagings()
            with open(os.path.join(staging, "_COMMIT"), "w") as fh:
                json.dump(
                    {"seq": seq, "step": step, "node": self.node_path}, fh
                )
            self.tree._apply_staging(staging, step, seq)
        except BaseException as exc:
            # KEEP staging for roll-forward/diagnosis; mark it failed
            # so cleanup_stagings() can act without an age heuristic
            try:
                with open(os.path.join(staging, "_FAILED"), "w") as fh:
                    json.dump(
                        {
                            "seq": seq,
                            "step": step,
                            "node": self.node_path,
                            "error": repr(exc),
                        },
                        fh,
                    )
            except OSError:
                pass
            raise

    # -- read (op #10) ---------------------------------------------------

    def read(
        self, from_time: int, until_time: int, as_of: int | None = None
    ) -> DataFrame:
        """Dense fetch at the node's own timeStep/aggregationMethod.
        Cross-batch LWW dedup happens here (max_by arrival_seq).

        ``as_of``: time travel — see the table exactly as of that
        transaction-log version (arrival_seq <= as_of, since the
        commit version IS the batch's arrival_seq)."""
        step = self.time_step
        # metric filter BEFORE dedup so it reaches the parquet scan;
        # the ts-range filter inside read_series is on a group key and
        # Catalyst pushes it through the dedup aggregate too
        mine = self.tree.points(step).filter(F.col("metric") == self.node_path)
        # ts row-group stats bound I/O but NOT the file listing: the
        # date PARTITION column must be filtered explicitly or a 1-day
        # fetch over years of history still lists/opens every date
        # directory. Quantize exactly as read_series will, so the
        # pruned range covers every bucket it can return.
        from_q = int(from_time) - (int(from_time) % step)
        until_q = int(until_time) - (int(until_time) % step)
        mine = mine.filter(
            F.col("date").between(
                cp.utc_date(F.lit(from_q)),
                cp.utc_date(F.lit(max(until_q - 1, from_q))),
            )
        )
        if as_of is not None:
            mine = mine.filter(F.col("arrival_seq") <= int(as_of))
        pts = cp.lww_dedup(mine)
        metrics = tbl.local_rows(
            self.tree.spark, [(self.node_path,)], "metric string"
        )
        return ser.read_series(
            pts, metrics, from_time, until_time, step, self.aggregation_method
        )

    def has_data_for_interval(
        self, from_time: int | None, until_time: int | None
    ) -> bool:
        probe = ser.has_data_for_interval(
            self.tree.points(self.time_step).filter(
                F.col("metric") == self.node_path
            ),
            from_time,
            until_time,
        ).collect()
        return bool(probe and probe[0]["has_data"])
