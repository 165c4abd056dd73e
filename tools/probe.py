"""Time named registry entries with bench.py's warm-up and pass loop
and print ONE JSON line attributing each entry's time.

Usage: python tools/probe.py q1,q2,... [--passes N] [--sf-dir D]
           [--conf k=v,...] [--plans DIR]

Per entry: ``passes_s``/``min_s`` (bench's timed span, build plus
``count()``); ``stream``, the per-micro-batch ``durationMs`` phases
and state-operator timings of the streaming queries it ran, summed
over its passes; ``exchanges``/``python_nodes`` in the plan of its
last timed DataFrame. ``--conf`` adds arm B: each pass times every
entry at the session defaults, then with the confs set (restored or
unset afterwards, also when an entry raises). ``--plans`` writes each
``explain('formatted')`` to ``DIR/<entry>.txt``.
"""

import argparse
import contextlib
import json
import os
import sys
import threading
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.streaming import StreamingQueryListener

import __spark_entry__ as entrymod
import bench
from ceres_spark.session import get_spark

STATE_KEYS = ("commitTimeMs", "allUpdatesTimeMs", "allRemovalsTimeMs")
PYTHON_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                "FlatMapGroupsInPandas", "MapInArrow")


class StreamProgress(StreamingQueryListener):
    """Progress of every streaming query started while registered."""

    def __init__(self):
        self._cv = threading.Condition()
        self._running: set[str] = set()
        self._progress: list[dict] = []

    def onQueryStarted(self, event):  # delivered before start() returns
        with self._cv:
            self._running.add(str(event.runId))

    def onQueryProgress(self, event):
        with self._cv:
            self._progress.append(json.loads(event.progress.json))

    def onQueryTerminated(self, event):
        with self._cv:
            self._running.discard(str(event.runId))
            self._cv.notify_all()

    def drain(self, timeout_s: float = 120.0) -> list[dict]:
        """Wait for every started query to terminate (the bus delivers
        its last progress first), then return and clear the progress."""
        with self._cv:
            if not self._cv.wait_for(lambda: not self._running, timeout_s):
                raise TimeoutError(f"queries still running: {self._running}")
            out, self._progress = self._progress, []
        return out


def stream_sums(progress: list[dict]) -> dict:
    phases, state = Counter(), Counter()
    for pr in progress:
        phases.update(pr.get("durationMs") or {})
        for op in pr.get("stateOperators") or []:
            state.update({k: op.get(k, 0) for k in STATE_KEYS})
    return {"events": len(progress), "phases_ms": dict(sorted(phases.items())),
            "state_ms": dict(state)}


@contextlib.contextmanager
def conf_scope(spark, confs: dict[str, str]):
    """Set ``confs`` for the body; on exit restore each key's earlier
    value, or unset it if it had none."""
    # get(key, None): None for a key with no value, where get(key) raises
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def explain(df) -> str:
    """The ``explain('formatted')`` text of ``df``'s plan."""
    return df.sparkSession.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def plan_counts(df, name: str, plans_dir: str | None) -> dict:
    plan = explain(df)
    rec = {"exchanges": plan.count("Exchange"),
           "python_nodes": sum(plan.count(t) for t in PYTHON_NODES)}
    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)
        rec["plan_file"] = os.path.join(plans_dir, f"{name}.txt")
        with open(rec["plan_file"], "w") as f:
            f.write(plan)
    return rec


def probe(spark, fns, sf_dir: str, passes: int, confs=None, plans_dir=None):
    """Per-entry records for ``fns`` (name -> registry builder)."""
    arms = {"A": {}, **({"B": confs} if confs else {})}
    runs = {(arm, n): ([], []) for arm in arms for n in fns}  # times, progress
    recs = {}
    listener = StreamProgress()
    spark.streams.addListener(listener)
    try:
        for p in range(passes):
            for arm, arm_confs in arms.items():
                with conf_scope(spark, arm_confs):
                    for name, df, dt in bench.timed_passes(spark, fns, sf_dir, 1):
                        times, progress = runs[arm, name]
                        times.append(dt)
                        progress += listener.drain()
                        if arm == "A" and p == passes - 1:
                            recs[name] = plan_counts(df, name, plans_dir)
    finally:
        spark.streams.removeListener(listener)
    for (arm, name), (ts, progress) in runs.items():
        rec = {"passes_s": ts, "min_s": min(ts), "stream": stream_sums(progress)}
        if arm == "A":
            recs[name].update(rec)
        else:
            ratio = round(rec["min_s"] / recs[name]["min_s"], 3)
            recs[name].update(B=rec, B_over_A=ratio)
    return recs


def _confs(text: str) -> dict[str, str]:
    pairs = [kv.split("=", 1) for kv in text.split(",") if kv]
    if not pairs or any(len(kv) != 2 for kv in pairs):
        raise argparse.ArgumentTypeError(f"expected k=v[,k=v...]: {text!r}")
    return dict(pairs)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", help="comma-separated registry entries")
    ap.add_argument("--passes", type=int, default=3)
    env_sf = os.environ.get("SPARK_GRAFT_SF_DIR")
    ap.add_argument("--sf-dir", default=env_sf, required=env_sf is None,
                    help="data directory (default: $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--conf", type=_confs, default={}, help="arm B confs")
    ap.add_argument("--plans", help="directory for explain('formatted') files")
    args = ap.parse_args()
    qs = entrymod.queries()
    names = [n.strip() for n in args.names.split(",") if n.strip()]
    unknown = [n for n in names if n not in qs]
    if not names or unknown or args.passes < 1:
        ap.error(f"need registry entries and --passes >= 1; unknown: {unknown}")

    load_start = os.getloadavg()
    spark = get_spark("ceres-spark-probe")
    bench.warm_up(spark)
    entries = probe(spark, {n: qs[n] for n in names}, args.sf_dir,
                    args.passes, args.conf, args.plans)
    print(json.dumps({
        "sf_dir": args.sf_dir, "passes": args.passes, "conf_B": args.conf or None,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "entries": entries,
    }))


if __name__ == "__main__":
    main()
