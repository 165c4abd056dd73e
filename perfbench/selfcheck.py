"""Self-check of the benchmark's pure helpers (no Spark).

    python3 perfbench/selfcheck.py

- the same seed gives byte-identical inputs and request lists, and a
  different seed gives different ones;
- the tail rule picks the highest percentile with at least ten samples
  beyond it;
- ``stats.percentile`` agrees with NumPy's default method;
- ``cpu.engine_cpu_s`` counts the CPU of a child process, running and
  after it has ended.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402
from perfbench.cpu import engine_cpu_s  # noqa: E402
from perfbench.stats import percentile, tail_percentile  # noqa: E402


def inputs_digest(seed: int) -> dict:
    """Digest of every generated input of every workload at ``seed``."""
    metrics = gen.metric_names(1, 2, 3)
    values = gen.series_values(seed, metrics, 1440)
    files, truth = gen.arrival_files(seed, values, gen.T0, 3)
    c = gen.corpus(seed, 50, 2, 0.1)
    return {
        "requests": gen.digest(gen.render_requests(seed, 1, 4, 6, 7, 3)),
        "values": gen.digest(values),
        "arrivals": gen.digest({str(k): f for k, f in enumerate(files)}),
        "truth": gen.digest(truth),
        "commits": gen.digest(gen.store_commits(seed, 0, metrics, 6, 1, gen.T0)),
        "corpus": gen.digest({k: (v if isinstance(v, np.ndarray) else
                                  gen.digest(v)) for k, v in c.items()}),
    }


def main() -> int:
    failures = []

    def expect(ok: bool, what: str) -> None:
        if not ok:
            failures.append(what)

    a, a2, b = inputs_digest(5), inputs_digest(5), inputs_digest(6)
    for k in a:
        expect(a[k] == a2[k], f"seed 5 gave two different {k}")
        expect(a[k] != b[k], f"seeds 5 and 6 gave the same {k}")

    for n, want in ((0, None), (9, None), (39, None), (40, 75.0),
                    (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0),
                    (1000, 99.0), (9999, 99.0), (10000, 99.9)):
        got = tail_percentile(n)
        expect(got == want, f"tail_percentile({n}) = {got}, want {want}")

    g = np.random.default_rng(0)
    for n in (1, 2, 7, 50):
        xs = g.random(n).tolist()
        for p in (0, 25, 50, 90, 100):
            expect(abs(percentile(xs, p) - float(np.percentile(xs, p))) < 1e-12,
                   f"percentile({n} samples, {p}) differs from NumPy")

    # the child burns 0.5 s of CPU, says so, and waits; this process
    # sleeps in the read meanwhile, so its own CPU stays near zero
    busy = ("import time\nt = time.process_time()\n"
            "while time.process_time() - t < 0.5: pass\nprint(flush=True)\n"
            "input()\n")
    c0 = engine_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", busy], text=True,
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    child.stdout.readline()
    running = engine_cpu_s() - c0
    child.communicate("\n", timeout=60)
    ended = engine_cpu_s() - c0
    expect(0.45 <= running <= ended < 1.5,
           f"engine_cpu_s miscounts a child's 0.5 s of CPU: {running:.2f} s "
           f"while it runs, {ended:.2f} s after it ended")

    for f in failures:
        print(f"FAIL {f}")
    print("selfcheck ok" if not failures else f"{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
