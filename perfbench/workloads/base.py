"""What every workload shares: the closed-loop operation timer, failure
accounting, and the per-layer metric table."""

from __future__ import annotations

import os
import time
import traceback

from perfbench import trace as tr

#: Every per-layer metric of the traced run, with its unit. A run
#: reports all of them; a layer a workload does not exercise reads 0.
#: Time metrics are per operation (a read request, a store commit, a
#: pipeline pass; the set-up's one stream query, rollup and check pass
#: each count as one); counts are per the workload's fixed unit of
#: work (the set-up, the first request cycle, one pass), so they repeat
#: exactly at a fixed seed.
LAYER_METRICS = {
    "render.parse_ms": "ms/op",
    "render.build_ms": "ms/op",
    "render.rows_out": "count",
    "render.points_scanned_per_row": "ratio",
    "fetch.get_node_ms": "ms/op",
    "fetch.build_ms": "ms/op",
    "catalog.find_ms": "ms/op",
    "spark.catalyst_ms": "ms/op",
    "spark.jobs": "count/op",
    "spark.stages": "count/op",
    "spark.tasks": "count/op",
    "spark.task_run_ms": "ms/op",
    "spark.jvm_cpu_ms": "ms/op",
    "spark.python_ms": "ms/op",
    "spark.shuffle_read_bytes": "B/op",
    "spark.shuffle_write_bytes": "B/op",
    "spark.gc_ms": "ms/op",
    "stream.batches": "count",
    "stream.input_rows": "count",
    "stream.addBatch_ms": "ms/op",
    "stream.walCommit_ms": "ms/op",
    "stream.commitOffsets_ms": "ms/op",
    "stream.queryPlanning_ms": "ms/op",
    "stream.start_stop_ms": "ms/op",
    "compact.rows_in": "count",
    "compact.rows_out": "count",
    "store.get_node_ms": "ms/op",
    "store.write_ms": "ms/op",
    "store.jobs": "count/op",
    "txn_log.versions": "count",
    "storage.files": "count",
    "storage.files_per_partition": "ratio",
    "storage.bytes": "B",
    "retention.rollup_ms": "ms/op",
    "retention.rollup_jobs": "count/op",
    "retention.rows_out": "count",
    "tree.check_ms": "ms/op",
    "text.normalize_ms": "ms/op",
    "corpus.quality_ms": "ms/op",
    "dedup.pairs_ms": "ms/op",
    "dedup.candidates": "count",
    "dedup.pairs": "count",
    "dedup.pairs_per_candidate": "ratio",
    "graph.cc_ms": "ms/op",
    "graph.cc_jobs": "count/op",
    "graph.components": "count",
    "semdedup.ms": "ms/op",
    "semdedup.removed": "count",
    "multimodal.phash_ms": "ms/op",
    "multimodal.images": "count",
    "multimodal.phash_pairs": "count",
    "trace.cpu_ms_per_op": "ms",
    "trace.span_coverage_pct": "%",
}

_SPARK_KEYS = ("task_run_ms", "jvm_cpu_ms", "python_ms", "shuffle_read_bytes",
               "shuffle_write_bytes", "gc_ms")


class BaseWorkload:
    def __init__(self, spark, seed: int, work: str, tracer: tr.Tracer):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.attempted = 0
        self.failed = 0
        self.checked = 0
        self.errors: list[str] = []

    # -- closed loop -------------------------------------------------

    def timed(self, kind: str, fn, samples: list[float] | None):
        """Run one operation, append its latency to ``samples`` and
        return its result; an operation that raises counts as failed
        and returns None. With ``samples=None`` (warm-up) nothing is
        counted and an exception ends the run."""
        if samples is None:
            return fn()
        self.attempted += 1
        self.tracer.req = self.attempted
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}"):
                out = fn()
        except Exception:  # one failed request must not end the run
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            return None
        finally:
            self.tracer.req = None
        samples.append(time.perf_counter() - t0)
        return out

    def collect(self, df) -> list:
        """The action that ends a request; in traced runs it is its own
        span and records the query's Catalyst time."""
        if not self.tracer.enabled:
            return df.collect()
        with self.tracer.span("spark.collect") as s:
            rows = df.collect()
            s.attrs["catalyst_ms"] = tr.catalyst_ms(df)
        return rows

    def verdict(self, ok: bool, what: str) -> None:
        """Record one checked operation; a wrong result counts as a
        failed operation."""
        self.checked += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"wrong result: {what}")

    def check(self) -> dict:
        return {"attempted": self.attempted, "failed": self.failed,
                "checked": self.checked, "errors": self.errors[:20]}

    # -- per-layer helpers ---------------------------------------------

    def spark_layers(self, groups: dict, n_ops: int) -> dict:
        """Spark engine numbers for every job run inside the measured
        phase, per operation: event-log task metrics by job group, and
        job/stage/task counts from the status tracker."""
        t = self.tracer
        ids = t.subtree("measure")
        gids = {tr.group_id(i) for i in ids}
        tot = dict.fromkeys(_SPARK_KEYS, 0.0)
        for g, d in groups.items():
            if g in gids:
                for k in _SPARK_KEYS:
                    tot[k] += d.get(k, 0.0)
        spans = [s for s in t.spans if s.id in ids]
        out = {f"spark.{k}": v / n_ops for k, v in tot.items()}
        out["spark.catalyst_ms"] = sum(
            s.attrs.get("catalyst_ms", 0.0) for s in spans) / n_ops
        for k in ("jobs", "stages", "tasks"):
            out[f"spark.{k}"] = sum(s.attrs.get(f"st_{k}", 0)
                                    for s in spans) / n_ops
        return out

    @staticmethod
    def stream_layers(progress: list[dict], wall_ms: float) -> dict:
        """Streaming metrics from one query's
        ``StreamingQuery.recentProgress``: batch and row counts, phase
        times, and start/stop as the query wall time its triggers do
        not cover."""
        out = {"stream.batches": len(progress),
               "stream.input_rows": sum(p["numInputRows"] for p in progress)}
        for phase in ("addBatch", "walCommit", "commitOffsets", "queryPlanning"):
            out[f"stream.{phase}_ms"] = sum(
                p["durationMs"].get(phase, 0) for p in progress)
        trigger = sum(p["durationMs"].get("triggerExecution", 0)
                      for p in progress)
        out["stream.start_stop_ms"] = wall_ms - trigger
        out["compact.rows_in"] = out["stream.input_rows"]
        return out

    def coverage_pct(self, measure_s: float) -> float:
        """Share of the measured wall time covered by spans below the
        root: the rest is the benchmark's own request loop."""
        root = next(s for s in self.tracer.spans if s.name == "measure")
        return 100.0 * (1.0 - self.tracer.self_times()[root.id] / measure_s)

    def finish_layers(self, values: dict) -> dict:
        out = {}
        for name, unit in LAYER_METRICS.items():
            out[name] = {"value": float(values.get(name, 0.0)), "unit": unit}
        return out


def storage_stats(paths: list[str]) -> dict:
    """Parquet files, bytes and files per date partition under
    ``paths`` (points tables of one or more trees)."""
    files = nbytes = parts = 0
    for base in paths:
        for dirpath, _dirs, names in os.walk(base):
            pq = [n for n in names if n.endswith(".parquet")]
            if pq and os.path.basename(dirpath).startswith("date="):
                parts += 1
            files += len(pq)
            nbytes += sum(os.path.getsize(os.path.join(dirpath, n)) for n in pq)
    return {"storage.files": files, "storage.bytes": nbytes,
            "storage.files_per_partition": files / parts if parts else 0.0}
