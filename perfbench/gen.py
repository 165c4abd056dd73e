"""Seeded input generators (pure NumPy/Python, no Spark).

Everything the engine sees in a benchmark run comes from here, and
each generator is a function of its seed alone: the same seed gives
byte-identical inputs and request lists, another seed different ones
(``selfcheck.py`` asserts both).
"""

from __future__ import annotations

import hashlib
import json

import numpy as np

STEP = 60
DAY = 86400
#: 2023-11-14 00:00 UTC — a fixed, day-aligned origin so date
#: partitions and render windows are the same on every run
T0 = 1_699_920_000
KINDS = ("cpu", "mem", "disk", "net", "load")
_KIND_LEVEL = {"cpu": 40.0, "mem": 60.0, "disk": 20.0, "net": 300.0, "load": 2.0}


def rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, purpose), so adding draws to
    one input never shifts another."""
    h = hashlib.sha256(f"{int(seed)}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def digest(obj) -> str:
    """Stable content hash of generated inputs (arrays or JSON-able)."""
    h = hashlib.sha256()
    if isinstance(obj, dict):
        for k in sorted(obj):
            h.update(k.encode())
            h.update(digest(obj[k]).encode())
    elif isinstance(obj, np.ndarray):
        h.update(str(obj.dtype).encode())
        h.update(np.ascontiguousarray(obj).tobytes())
    else:
        h.update(json.dumps(obj, sort_keys=True, default=str).encode())
    return h.hexdigest()


# --------------------------------------------------------------------
# metric trees and points
# --------------------------------------------------------------------


def metric_names(dcs: int, racks: int, hosts: int) -> list[str]:
    """``dc*.rack*.host*.{cpu,mem,disk,net,load}``, sorted."""
    return sorted(
        f"dc{d}.rack{r}.host{h}.{k}"
        for d in range(dcs)
        for r in range(racks)
        for h in range(hosts)
        for k in KINDS
    )


def series_values(seed: int, metrics: list[str], n_slots: int) -> np.ndarray:
    """Dense ``[metric, slot]`` value matrix: per-kind level, a daily
    cycle and noise, rounded to 2 decimals (exact in decimal sums)."""
    g = rng(seed, "values")
    slot = np.arange(n_slots, dtype=np.float64)
    daily = np.sin(2 * np.pi * slot * STEP / DAY)
    out = np.empty((len(metrics), n_slots), dtype=np.float64)
    for i, m in enumerate(metrics):
        level = _KIND_LEVEL[m.rsplit(".", 1)[1]] * (0.5 + g.random())
        noise = g.normal(0.0, 0.05 * level, n_slots)
        out[i] = np.round(level * (1.0 + 0.3 * daily) + noise, 2)
    return out


def arrival_files(
    seed: int,
    values: np.ndarray,
    t_start: int,
    n_files: int,
    late_frac: float = 0.02,
    dup_frac: float = 0.01,
    missing_frac: float = 0.005,
) -> tuple[list[dict], np.ndarray]:
    """Split a dense value matrix into ``n_files`` arrival files.

    File ``k`` carries the fresh points of time chunk ``k``. A
    ``late_frac`` share of points is held back and sent in a later
    file; a ``dup_frac`` share is sent again, with a new value, in a
    file after its first arrival (last writer wins); ``missing_frac``
    is never sent. Raw timestamps carry a seeded offset inside their
    60 s bucket, so the write path must quantize. No file holds two
    points of one (metric, bucket).

    Returns the files as column dicts (``metric_idx, ts, value``) and
    the matrix the store must hold after last-writer-wins (NaN where
    nothing arrived).
    """
    g = rng(seed, f"arrivals:{t_start}:{n_files}")
    n_m, n_s = values.shape
    slot_file = np.minimum(np.arange(n_s) * n_files // n_s, n_files - 1)
    first = np.broadcast_to(slot_file, (n_m, n_s)).copy()
    late = g.random((n_m, n_s)) < late_frac
    first[late] = np.minimum(
        first[late] + 1 + g.integers(0, n_files, late.sum()), n_files - 1
    )
    missing = g.random((n_m, n_s)) < missing_frac
    dup = (g.random((n_m, n_s)) < dup_frac) & ~missing & (first < n_files - 1)
    dup_file = np.where(
        dup, first + 1 + g.integers(0, n_files, (n_m, n_s)) % np.maximum(
            n_files - 1 - first, 1), -1
    )
    dup_values = np.round(values + g.normal(0.0, 1.0, values.shape), 2)
    offsets = g.integers(0, STEP, (n_m, n_s))
    truth = np.where(dup, dup_values, values)
    truth[missing] = np.nan
    files = []
    mi, si = np.meshgrid(np.arange(n_m), np.arange(n_s), indexing="ij")
    for k in range(n_files):
        sel_first = (first == k) & ~missing
        sel_dup = dup_file == k
        m_idx = np.concatenate([mi[sel_first], mi[sel_dup]])
        s_idx = np.concatenate([si[sel_first], si[sel_dup]])
        vals = np.concatenate([values[sel_first], dup_values[sel_dup]])
        ts = t_start + s_idx.astype(np.int64) * STEP + offsets[m_idx, s_idx]
        order = np.lexsort((ts, m_idx))
        files.append(
            {"metric_idx": m_idx[order], "ts": ts[order], "value": vals[order]}
        )
    return files, truth


# --------------------------------------------------------------------
# render_read request list
# --------------------------------------------------------------------

WINDOWS = {"1h": 3600, "6h": 6 * 3600, "1d": DAY, "7d": 7 * DAY}

#: one request cycle: 7 renders, 2 fetches, 1 find (70/20/10). Each
#: render template fixes the graphite shape, the glob fan-out class
#: and the window; the seed picks which subtree, host and time.
RENDER_TEMPLATES = (
    ("sumSeries({rack}.*.cpu)", "6h"),
    ("aliasByNode({host}.*,3)", "1h"),
    ('summarize(dc*.*.*.net,"1h","sum")', "1d"),
    ("movingAverage({host}.load,10)", "6h"),
    ("highestCurrent({dc}.*.*.mem,5)", "1h"),
    ("asPercent({rack}.*.disk)", "1d"),
    ("holtWintersConfidenceBands({host}.cpu)", "7d"),
)
FETCH_WINDOWS = ("1d", "7d")
FIND_PATTERNS = ("{dc}.*.*.cpu", "{rack}.*.*", "dc*.{rackname}.host*.net")
CYCLE = 10


def _zipf_pick(g: np.random.Generator, n: int, order: np.ndarray, s=1.1):
    w = 1.0 / np.arange(1, n + 1) ** s
    return int(order[g.choice(n, p=w / w.sum())])


def render_requests(
    seed: int, dcs: int, racks: int, hosts: int, n_days: int, cycles: int
) -> list[dict]:
    """``cycles`` × :data:`CYCLE` requests. Within a cycle the kinds and
    render templates follow a fixed order, so every complete cycle
    costs about the same on any seed; subtree choice is Zipf-skewed
    over a seeded popularity order and windows end at seeded times."""
    g = rng(seed, "requests")
    dc_order = g.permutation(dcs)
    rack_order = g.permutation(racks)
    host_order = g.permutation(hosts)
    t_end = T0 + n_days * DAY
    kinds = ["render"] * 7 + ["fetch"] * 2 + ["find"]
    out = []
    for c in range(cycles):
        perm = rng(seed, f"cycle:{c}").permutation(CYCLE)
        n_render = n_fetch = 0
        for pos in perm:
            kind = kinds[pos]
            d = _zipf_pick(g, dcs, dc_order)
            r = _zipf_pick(g, racks, rack_order)
            h = _zipf_pick(g, hosts, host_order)
            names = {
                "dc": f"dc{d}",
                "rack": f"dc{d}.rack{r}",
                "rackname": f"rack{r}",
                "host": f"dc{d}.rack{r}.host{h}",
            }
            if kind == "render":
                tmpl, win = RENDER_TEMPLATES[n_render]
                n_render += 1
                req = {"kind": "render", "template": n_render - 1,
                       "target": tmpl.format(**names)}
            elif kind == "fetch":
                win = FETCH_WINDOWS[n_fetch]
                n_fetch += 1
                req = {"kind": "fetch",
                       "metric": f"{names['host']}.{KINDS[int(g.integers(5))]}"}
            else:
                win = None
                req = {"kind": "find",
                       "pattern": FIND_PATTERNS[c % 3].format(**names)}
            if win is not None:
                # seeded end times, but a fixed number of date partitions
                # per window: sub-day windows stay inside one day
                span = WINDOWS[win]
                days = span // DAY
                if days >= n_days:
                    until = t_end
                elif days == 0:
                    until = T0 + int(g.integers(n_days)) * DAY + STEP * int(
                        g.integers(span // STEP, DAY // STEP + 1))
                else:
                    until = T0 + int(g.integers(days, n_days)) * DAY + STEP * int(
                        g.integers(1, DAY // STEP))
                req.update({"window": win, "from": until - span,
                            "until": until})
            req["id"] = len(out)
            out.append(req)
    return out


# --------------------------------------------------------------------
# render_read set-up commits
# --------------------------------------------------------------------


def store_commits(
    seed: int, iteration: int, metrics: list[str], n_commits: int,
    n_days: int, t_start: int,
) -> list[dict]:
    """``n_commits`` one-node × one-day commits; about a third rewrite
    a (node, day) committed earlier, so read-after-write must see the
    later commit win. Values follow ``value_formula`` and are
    recomputed exactly on the check side."""
    g = rng(seed, f"commits:{iteration}")
    out = []
    distinct = max(1, (2 * n_commits) // 3)
    keys = [
        (metrics[int(g.integers(len(metrics)))], int(g.integers(n_days)))
        for _ in range(distinct)
    ]
    for i in range(n_commits):
        node, day = keys[i] if i < distinct else keys[int(g.integers(distinct))]
        out.append({
            "node": node,
            "day_start": t_start + day * DAY,
            "a": int(g.integers(1, 997)),
            "b": int(g.integers(0, 997)),
            "off": int(g.integers(0, STEP)),
        })
    return out


def commit_points(c: dict) -> tuple[np.ndarray, np.ndarray]:
    """Raw (ts, value) of one commit — the NumPy twin of the Spark
    expression the workload stores: ``(id·a + b) % 997 / 10``."""
    i = np.arange(DAY // STEP, dtype=np.int64)
    ts = c["day_start"] + i * STEP + (i * 7 + c["off"]) % STEP
    value = ((i * c["a"] + c["b"]) % 997) / 10.0
    return ts, value


# --------------------------------------------------------------------
# corpus_dedup documents
# --------------------------------------------------------------------

_SYL = ("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "do",
        "gu", "fe", "hi", "jo", "be", "co", "wy", "xu", "qi")
_TAGS = ("<p>", "<div class=\"c\">", "<b>", "<span>")


def _vocab(g: np.random.Generator, n: int) -> list[str]:
    words = set()
    while len(words) < n:
        k = int(g.integers(2, 5))
        words.add("".join(_SYL[i] for i in g.integers(0, len(_SYL), k)))
    return sorted(words)


def _base36(x: int) -> str:
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    s = ""
    while True:
        x, r = divmod(x, 36)
        s = digits[r] + s
        if not x:
            return s


def corpus(
    seed: int, n_base: int, copies: int, dup_rate: float,
    n_sources: int = 40, spam_frac: float = 0.05, dim: int = 32,
) -> dict:
    """A ``copies``× corpus of ``n_base`` seeded documents built the
    salted-copy way: every word of every document in copy ``i`` gets a
    per-(document, copy) salt, so no two distinct documents share a
    token (no natural near-duplicates), and each copy then plants a
    near-duplicate twin (same salted text minus its last word, same
    source block, new id) for a ``dup_rate`` share of its non-spam
    documents. Planted twins are the only near-duplicate pairs.

    Text carries markup, entities, capitals and punctuation for the
    normalizer; a ``spam_frac`` share repeats a few words and should
    fail the quality model. Embeddings are seeded unit vectors; a
    twin's is its donor's plus small noise.

    Returns column lists (``doc_id, text, source, origin, spam,
    embedding``) and the planted ``pairs`` (donor, twin)."""
    g = rng(seed, "corpus")
    vocab = _vocab(g, 3000)
    stride = 2 * n_base
    base = []
    for _ in range(n_base):
        spam = bool(g.random() < spam_frac)
        if spam:
            few = [vocab[int(j)] for j in g.integers(0, len(vocab), 3)]
            words = [few[int(j)] for j in g.integers(0, 3, 60)]
        else:
            n = int(g.integers(30, 120))
            words = [vocab[int(j)] for j in g.integers(0, len(vocab), n)]
        base.append((words, spam, int(g.integers(n_sources))))
    cols = {k: [] for k in ("doc_id", "text", "source", "origin", "spam")}
    emb = []
    pairs = []

    def add(doc_id, words, src, origin, spam, vec):
        tag = _TAGS[doc_id % len(_TAGS)]
        body = " ".join(words)
        body = body[0].upper() + body[1:] + "."
        if doc_id % 5 == 0:
            body = body.replace(" ", " &amp; ", 1)
        cols["doc_id"].append(doc_id)
        cols["text"].append(f"{tag}{body}</{tag[1:].split()[0].rstrip('>')}>")
        cols["source"].append(src)
        cols["origin"].append(origin)
        cols["spam"].append(spam)
        emb.append(vec)

    for i in range(copies):
        for j, (words, spam, src) in enumerate(base):
            doc_id = j + i * stride
            salt = _base36(int(rng(seed, f"salt:{i}:{j}").integers(36**5)))
            salted = [w + salt for w in words]
            vec = g.normal(0.0, 1.0, dim)
            vec /= np.linalg.norm(vec)
            source = f"src{src:02d}#{i}"
            add(doc_id, salted, source, doc_id, spam, vec)
            if not spam and g.random() < dup_rate:
                twin_vec = vec + g.normal(0.0, 0.01, dim)
                add(doc_id + n_base, salted[:-1], source, doc_id, spam,
                    twin_vec / np.linalg.norm(twin_vec))
                pairs.append((doc_id, doc_id + n_base))
    cols["embedding"] = np.round(np.asarray(emb), 6)
    cols["pairs"] = pairs
    return cols
