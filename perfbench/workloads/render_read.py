"""render_read — graphite dashboard reads against a 7-day ceres tree
that the set-up writes and maintains the way ceres is fed.

Why: every read request pays target parsing, plan building, Catalyst,
job scheduling and a scan. The store holds 7 days while most request
windows cover hours, so fixed per-request cost and date-partition
pruning decide latency. Nothing is written once the measured loop
starts. The set-up exercises the whole write path (streaming ingest,
``operators.compact``, ``CeresTree.store`` with ``sources.txn_log``,
``operators.retention``, ``CeresTree.check``), so a write-path change
shows in ``setup_s``, in the traced run's write layers, and in the
read latencies through the file layout it leaves.

Inputs (all from the seed, see ``perfbench/gen.py``):

- tree A: 1 dc × 2 racks × 3 hosts × {cpu, mem, disk, net, load} =
  30 metrics, 7 days of 60 s points (about 302 k points), written
  through ``streaming.ingest.stream_store`` into
  ``CeresTree.points_path(60)`` from 2 arrival files read with
  ``maxFilesPerTrigger=1``; 2% of points arrive late, 1% arrive twice
  with a new value (last writer wins), 0.5% never arrive. The catalog
  is built in bulk with ``catalog.make_catalog``.
- tree B: 2 ``CeresTree.store`` commits, each one node × one day of
  1,440 points; the second rewrites the (node, day) of the first.
  The streaming batch id sequences tree A and the transaction-log
  version tree B, never both one table.
- maintenance: one ``retention.rollup_catalog`` over tree A and a
  ``CeresTree.check()`` pass over both trees.
- requests: cycles of 10 — 7 ``plans.render.render`` calls over
  ``compact.lww_dedup(tree.points())`` (one per template in
  ``gen.RENDER_TEMPLATES``: sumSeries, aliasByNode, summarize,
  movingAverage, highestCurrent, asPercent,
  holtWintersConfidenceBands; glob fan-out 1 to 6 series; windows
  1 h / 6 h / 1 d / 7 d), 2 ``CeresTree.fetch`` of one node (1 d and
  7 d) and 1 ``CeresTree.find``. Subtree popularity is Zipf-skewed.

Client model: closed loop, one client; the next request is sent when
the previous one has returned all its rows. The loop runs whole
cycles, at least one, until ``--seconds`` have passed, so every run
sees the same request mix; at ``run_seconds`` = 5 every run makes
exactly one. Tails follow the rule in ``stats.tail_percentile``: a
cycle gives 7 render samples, too few for any tail, so
``render_p90_ms`` needs ``--seconds`` of about 150.

End-to-end: ``cpu_ms_per_op`` is the engine CPU time of the measured
cycles per read request (render, fetch and find in the fixed 7/2/1
mix); the render, fetch and find wall-clock p50s and ``read_qps`` are
printed with their sample counts. Checks: a seeded sample of render
and fetch results, and every result of the first cycle, is recomputed
with NumPy from the generated points; the rollup equals the NumPy
hourly means; ``check()`` finds no misaligned, NaN or duplicate row
and the row count the generator implies; a read-after-write fetch of
the rewritten commit sees the last writer; no staging directory is
left over.
"""

from __future__ import annotations

import importlib
import os
import re
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench import trace as tr
from perfbench.stats import summarize_ms
from perfbench.workloads.base import BaseWorkload, storage_stats

DCS, RACKS, HOSTS, DAYS = 1, 2, 3, 7
ARRIVAL_FILES = 2
COMMITS = 2
SAMPLE_RATE = 0.15
#: one cycle keeps a whole run, set-up included, near a minute
MIN_CYCLES = 1
ARRIVAL_SCHEMA = "metric string, ts long, value double, arrival_seq long"


def glob_rx(pattern: str) -> re.Pattern:
    """graphite path glob: ``*`` matches within one dotted node."""
    return re.compile(
        "^" + "".join("[^.]*" if c == "*" else re.escape(c) for c in pattern)
        + "$")


def leaf_path(target: str) -> str:
    """The metric path inside the innermost call of a render target."""
    return re.search(r"\(([^(),]+)[,)]", target).group(1)


def write_arrivals(files: list[dict], metrics: list[str], out_dir: str) -> int:
    """Arrival files as parquet, modification times in file order so
    the file source reads them as batches 0, 1, …; returns points."""
    os.makedirs(out_dir)
    names = pa.array(metrics, pa.string())
    total = 0
    for k, f in enumerate(files):
        tbl = pa.table({
            "metric": pa.DictionaryArray.from_arrays(
                pa.array(f["metric_idx"].astype(np.int32)), names),
            "ts": pa.array(f["ts"]),
            "value": pa.array(f["value"]),
            "arrival_seq": pa.array(np.full(len(f["ts"]), k, np.int64)),
        })
        path = os.path.join(out_dir, f"arrival-{k:03d}.parquet")
        pq.write_table(tbl, path)
        os.utime(path, (1_600_000_000 + k, 1_600_000_000 + k))
        total += len(f["ts"])
    return total


def stream_into(spark, src: str, target: str, ckpt: str):
    """Run ``stream_store`` over every arrival file to completion and
    return the finished query."""
    from ceres_spark.streaming import ingest

    stream = (spark.readStream.schema(ARRIVAL_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = ingest.stream_store(stream, target, checkpoint=ckpt)
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"stream_store failed: {q.exception()}")
    return q


class Workload(BaseWorkload):
    def __init__(self, spark, seed, work, tracer):
        super().__init__(spark, seed, work, tracer)
        self.metrics = gen.metric_names(DCS, RACKS, HOSTS)
        self.midx = {m: i for i, m in enumerate(self.metrics)}
        self.n_slots = DAYS * gen.DAY // gen.STEP
        self.requests = gen.render_requests(seed, DCS, RACKS, HOSTS, DAYS, 200)
        self.lat = {"render": [], "fetch": [], "find": []}
        self.kept: list[tuple[dict, object]] = []
        self.n_points = 0
        self.done = 0

    def sizes(self) -> dict:
        return {"metrics": len(self.metrics), "days": DAYS,
                "points_generated": self.n_points,
                "arrival_files": ARRIVAL_FILES, "commits": COMMITS,
                "points_per_commit": gen.DAY // gen.STEP,
                "requests_done": self.done}

    # -- set-up ------------------------------------------------------

    def build(self) -> None:
        """Stream 7 days into tree A, commit into tree B, maintain."""
        from ceres_spark import catalog
        from ceres_spark.operators import compact, retention
        from ceres_spark.tree import CeresTree

        values = gen.series_values(self.seed, self.metrics, self.n_slots)
        files, self.truth = gen.arrival_files(
            self.seed, values, gen.T0, ARRIVAL_FILES)
        src = os.path.join(self.work, "in", "arrivals")
        self.n_points = write_arrivals(files, self.metrics, src)
        cat = catalog.make_catalog(
            self.spark, [{"metric": m} for m in self.metrics])
        self.tree, self.tree_b = (
            CeresTree.create_tree(self.spark, os.path.join(self.work, name))
            for name in ("tree-a", "tree-b"))
        for tree in (self.tree, self.tree_b):
            tree._write_catalog(cat)

        t0 = time.perf_counter()
        q = stream_into(self.spark, src, self.tree.points_path(60),
                        os.path.join(self.work, "in", "ckpt"))
        self.stream_s = time.perf_counter() - t0
        self.stream_progress = q.recentProgress

        self.commits = gen.store_commits(
            self.seed, 0, self.metrics, COMMITS, DAYS, gen.T0)
        self.store_lat, self.truth_b = [], {}
        for c in self.commits:
            ts, v = gen.commit_points(c)
            df = self.spark.range(len(ts)).selectExpr(
                f"{c['day_start']} + id * {gen.STEP}"
                f" + (id * 7 + {c['off']}) % {gen.STEP} AS ts",
                f"((id * {c['a']} + {c['b']}) % 997) / 10.0 AS value")
            t0 = time.perf_counter()
            with self.tracer.span("setup.store"):
                self.tree_b.store(c["node"], df)
            self.store_lat.append(time.perf_counter() - t0)
            self.truth_b[(c["node"], c["day_start"])] = dict(
                zip((ts - ts % gen.STEP).tolist(), v.tolist()))
        self.txn_versions = len(self.tree_b.log().entries())
        node, day0 = self.commits[-1]["node"], self.commits[-1]["day_start"]
        self.probe = self.collect(self.tree_b.fetch(node, day0, day0 + gen.DAY))
        self.staging_left = self.tree_b.staging_dirs()

        t0 = time.perf_counter()
        with self.tracer.span("setup.rollup"):
            self.rolled = self.collect(retention.rollup_catalog(
                compact.lww_dedup(self.tree.points()), self.tree.catalog()))
        with self.tracer.span("setup.check"):
            self.tree_checks = [self.collect(t.check())[0]
                                for t in (self.tree, self.tree_b)]
        self.maintain_s = time.perf_counter() - t0

    def warm_up(self) -> None:
        """One Python-worker render from a request list no measured run
        uses; the set-up has already fetched and scanned the tree."""
        warm = gen.render_requests(self.seed + 1_000_003, DCS, RACKS, HOSTS,
                                   DAYS, 1)
        self._execute(next(r for r in warm if r.get("template") == 6))

    # -- measured loop -----------------------------------------------

    def _execute(self, req: dict):
        from ceres_spark.operators import compact

        # the package re-exports a function named render over the module
        render_mod = importlib.import_module("ceres_spark.plans.render")

        kind = req["kind"]
        if kind == "render":
            df = render_mod.render(
                self.spark, req["target"], req["from"], req["until"],
                series=compact.lww_dedup(self.tree.points()), step=gen.STEP)
            return self.collect(df)
        if kind == "fetch":
            return self.collect(
                self.tree.fetch(req["metric"], req["from"], req["until"]))
        return sorted(n.node_path for n in self.tree.find(req["pattern"]))

    def run(self, seconds: float) -> None:
        g = gen.rng(self.seed, "check-sample")
        deadline = time.perf_counter() + seconds
        t0 = time.perf_counter()
        for pos, req in enumerate(self.requests):
            if (pos % gen.CYCLE == 0 and pos >= MIN_CYCLES * gen.CYCLE
                    and time.perf_counter() >= deadline):
                break
            out = self.timed(req["kind"], lambda: self._execute(req),
                             self.lat[req["kind"]])
            self.done += 1
            if out is not None and (pos < gen.CYCLE or g.random() < SAMPLE_RATE):
                self.kept.append((req, out))
        self.wall = time.perf_counter() - t0

    # -- checks ------------------------------------------------------

    def _series(self, pattern: str, lo: int, hi: int) -> dict[str, tuple]:
        """Stored (ts, value) arrays per matching metric in [lo, hi)."""
        rx = glob_rx(pattern)
        s0, s1 = (lo - gen.T0) // gen.STEP, (hi - gen.T0) // gen.STEP
        s0c, s1c = max(s0, 0), min(s1, self.n_slots)
        ts = gen.T0 + np.arange(s0c, s1c, dtype=np.int64) * gen.STEP
        out = {}
        for m in self.metrics:
            if rx.match(m):
                v = self.truth[self.midx[m], s0c:s1c]
                ok = ~np.isnan(v)
                out[m] = (ts[ok], v[ok])
        return out

    def expected(self, req: dict):
        """NumPy recomputation of a request's result as
        ``{(name, ts): value}`` (a set of names for find), or None for
        templates checked only for shape."""
        if req["kind"] == "find":
            rx = glob_rx(req["pattern"])
            return sorted(m for m in self.metrics if rx.match(m))
        lo, hi = req["from"], req["until"]
        if req["kind"] == "fetch":
            s = self._series(req["metric"], lo, hi)[req["metric"]]
            have = dict(zip(s[0].tolist(), s[1].tolist()))
            return {(req["metric"], t): have.get(t)
                    for t in range(lo, hi, gen.STEP)}
        t = req["template"]
        path = leaf_path(req["target"])
        ser = self._series(path, lo, hi)
        out = {}
        if t == 0:                               # sumSeries
            acc: dict[int, float] = {}
            for ts, v in ser.values():
                for a, b in zip(ts.tolist(), v.tolist()):
                    acc[a] = acc.get(a, 0.0) + b
            return {(f"sumSeries({path})", a): b for a, b in acc.items()}
        if t == 1:                               # aliasByNode(host.*, 3)
            for m, (ts, v) in ser.items():
                out.update({(m.split(".")[3], a): b
                            for a, b in zip(ts.tolist(), v.tolist())})
            return out
        if t == 2:                               # summarize 1h sum
            for m, (ts, v) in ser.items():
                b = ts - ts % 3600
                for key in np.unique(b).tolist():
                    out[(f'summarize({m},"1h","sum")', key)] = float(
                        v[b == key].sum())
            return out
        if t == 3:                               # movingAverage, 10 points
            for m, (ts, v) in ser.items():
                c = np.concatenate([[0.0], np.cumsum(v)])
                idx = np.arange(len(v))
                lo_i = np.maximum(idx - 9, 0)
                ma = (c[idx + 1] - c[lo_i]) / (idx + 1 - lo_i)
                out.update({(f"movingAverage({m},10)", a): b
                            for a, b in zip(ts.tolist(), ma.tolist())})
            return out
        if t == 4:                               # highestCurrent: names
            return {m: v[-1] for m, (ts, v) in ser.items() if len(v)}
        if t == 5:                               # asPercent
            tot: dict[int, float] = {}
            for ts, v in ser.values():
                for a, b in zip(ts.tolist(), v.tolist()):
                    tot[a] = tot.get(a, 0.0) + b
            for m, (ts, v) in ser.items():
                out.update({(f"asPercent({m})", a): 100.0 * b / tot[a]
                            for a, b in zip(ts.tolist(), v.tolist())})
            return out
        return None                              # holtWintersConfidenceBands

    @staticmethod
    def _close(got: dict, want: dict) -> bool:
        if got.keys() != want.keys():
            return False
        for k, w in want.items():
            g = got[k]
            if w is None or g is None:
                if not (w is None and g is None):
                    return False
            elif abs(g - w) > 1e-6 * max(1.0, abs(w)):
                return False
        return True

    def _matches(self, req: dict, out) -> bool:
        want = self.expected(req)
        if req["kind"] == "find":
            return out == want
        got = {(r["metric"], r["ts"]): r["value"] for r in out}
        if len(got) != len(out):
            return False
        if req["kind"] == "fetch" or req["template"] not in (4, 6):
            return self._close(got, want)
        names = {k[0] for k in got}
        if req["template"] == 6:                 # shape only
            m = leaf_path(req["target"])
            return bool(out) and names == {
                f"holtWintersConfidence{s}({m})" for s in ("Upper", "Lower")}
        # highestCurrent: the five kept series have the highest last
        # values (ties may go either way)
        floor = min(want[m] for m in names) if len(names) == 5 else None
        return floor is not None and all(
            c <= floor for m, c in want.items() if m not in names)

    def _check_setup(self) -> None:
        a, b = self.tree_checks
        clean = all(c["n_misaligned"] == 0 and c["n_nan"] == 0
                    and c["n_dups"] == 0 for c in (a, b))
        self.verdict(
            clean and a["n_rows"] == self.n_points
            and b["n_rows"] == COMMITS * (gen.DAY // gen.STEP),
            f"check() of the written trees: {a}, {b}")
        hours = self.truth.reshape(len(self.metrics), -1, 3600 // gen.STEP)
        n = (~np.isnan(hours)).sum(axis=2)
        mean = np.nansum(hours, axis=2) / np.maximum(n, 1)
        want = {(m, gen.T0 + h * 3600): float(mean[i, h])
                for i, m in enumerate(self.metrics)
                for h in np.nonzero(n[i])[0].tolist()}
        got = {(x["metric"], x["ts"]): x["value"] for x in self.rolled}
        self.verdict(len(got) == len(self.rolled) and self._close(got, want),
                     "rollup_catalog disagrees with the hourly means")
        c = self.commits[-1]
        want = self.truth_b[(c["node"], c["day_start"])]
        got = {x["ts"]: x["value"] for x in self.probe}
        self.verdict(self._close(got, want), f"read-after-write {c['node']}")
        self.verdict(not self.staging_left, "staging dirs left over")

    def check(self) -> dict:
        self._check_setup()
        for req, out in self.kept:
            self.verdict(self._matches(req, out), f"request {req}")
        return super().check()

    # -- report ------------------------------------------------------

    def report(self) -> dict:
        r = summarize_ms(self.lat["render"])
        f = summarize_ms(self.lat["fetch"])
        d = summarize_ms(self.lat["find"])
        st = summarize_ms(self.store_lat)
        n_ok = sum(len(v) for v in self.lat.values())
        stored = storage_stats([t.points_path(60)
                                for t in (self.tree, self.tree_b)])
        user_points = self.n_points + COMMITS * (gen.DAY // gen.STEP)
        named = {
            "render_p50_ms": {"value": r["p50_ms"], "unit": "ms", "n": r["n"]},
            "fetch_p50_ms": {"value": f["p50_ms"], "unit": "ms", "n": f["n"]},
            "find_p50_ms": {"value": d["p50_ms"], "unit": "ms", "n": d["n"]},
            "read_qps": {"value": n_ok / self.wall, "unit": "req/s", "n": n_ok},
            "ingest_points_per_s": {"value": self.n_points / self.stream_s,
                                    "unit": "points/s", "n": 1},
            "store_p50_ms": {"value": st["p50_ms"], "unit": "ms",
                             "n": st["n"]},
            "maintenance_s": {"value": self.maintain_s, "unit": "s", "n": 1},
            "bytes_per_point": {"value": stored["storage.bytes"] / user_points,
                                "unit": "B", "n": 1},
        }
        if r["tail_pct"] is not None:
            named[f"render_p{r['tail_pct']:g}_ms"] = {
                "value": r["tail_ms"], "unit": "ms", "n": r["n"]}
        return named

    def layers(self, groups: dict, measure_s: float) -> dict:
        t = self.tracer
        n_render = max(1, len(self.lat["render"]))
        n_fetch = max(1, len(self.lat["fetch"]))
        n_find = max(1, len(self.lat["find"]))
        n_ops = max(1, self.attempted)
        measured = t.subtree("measure")
        fetch_ids = t.subtree("op.fetch")
        node_ms = sum((s.t1 - s.t0) * 1000.0 for s in t.spans
                      if s.id in fetch_ids and s.name in ("tree.get_node",
                                                          "node.read_metadata")
                      and t.spans[s.parent].name != "tree.get_node")
        first = [(req, out) for req, out in self.kept[:gen.CYCLE]
                 if req["id"] < gen.CYCLE and req["kind"] == "render"]
        rows_out = sum(len(out) for _req, out in first)
        cycle0 = t.subtree_of(s.id for s in t.spans if s.name == "op.render"
                              and s.req <= gen.CYCLE)
        scanned = sum(groups.get(tr.group_id(i), {}).get("records_read", 0)
                      for i in cycle0)
        store_ids = t.subtree("setup.store")
        vals = {
            "render.parse_ms": t.self_ms("render.parse", measured) / n_render,
            "render.build_ms": t.self_ms("render.build", measured) / n_render,
            "render.rows_out": rows_out,
            "render.points_scanned_per_row": scanned / max(1, rows_out),
            "fetch.get_node_ms": node_ms / n_fetch,
            "fetch.build_ms": t.self_ms("node.read", measured) / n_fetch,
            "catalog.find_ms": t.total_ms("tree.find", measured) / n_find,
            # the set-up's writes and maintenance, one pass each
            "compact.rows_out": self.tree_checks[0]["n_rows"],
            "store.get_node_ms": t.total_ms("tree.get_node", store_ids) / COMMITS,
            "store.write_ms": t.total_ms("node.write", store_ids) / COMMITS,
            "store.jobs": sum(s.attrs.get("st_jobs", 0) for s in t.spans
                              if s.id in store_ids) / COMMITS,
            "txn_log.versions": self.txn_versions,
            "retention.rollup_ms": t.total_ms("setup.rollup"),
            "retention.rollup_jobs": sum(
                s.attrs.get("st_jobs", 0) for s in t.spans
                if s.id in t.subtree("setup.rollup")),
            "retention.rows_out": len(self.rolled),
            "tree.check_ms": t.total_ms("setup.check"),
            "trace.span_coverage_pct": self.coverage_pct(measure_s),
        }
        vals.update(self.stream_layers(self.stream_progress,
                                       self.stream_s * 1e3))
        vals.update(self.spark_layers(groups, n_ops))
        vals.update(storage_stats([self.tree.points_path(60)]))
        return self.finish_layers(vals)
