"""Deduplication for LLM-data pipelines (north-star §2.2):
exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine.

Design for 100 TB:
- exact dedup is one hash-groupBy — map-side combinable, no window.
- pairwise similarity is NEVER all-pairs at scale: candidates come
  from LSH band buckets (MinHash) or blocking keys, so the join
  cardinality is Σ bucket² instead of N².
- all hashing is deterministic (xxhash64 with fixed seeds), so
  results are reproducible run-to-run and cluster-to-cluster.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

import ceres_spark.operators.sharding as sharding
from ceres_spark.operators.text import tokens
from ceres_spark.sources.tables import spread


# ------------------------------------------------------------- exact

def exact_dedup(docs: DataFrame, key: Column | None = None) -> DataFrame:
    """Exact dedup by content hash (normalized text by default):
    keep the lowest doc_id of each group, count the copies."""
    k = key if key is not None else F.md5(
        F.regexp_replace(F.lower(F.col("text")), " +", " ")
    )
    return (
        docs.select(k.alias("content_key"), "doc_id")
        .groupBy("content_key")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


# ------------------------------------------------- shingles / jaccard

def shingles(k: int = 3, col: str = "text") -> Column:
    """k-token shingles (distinct) of lowercased text — the MinHash
    input unit. Built with HOFs, fully JVM-side.

    Formulated as ``zip_with`` over k shifted ``slice``s rather than a
    ``transform`` over indices with ``element_at(t, i+j)``: Catalyst
    has no let-binding, so in the element_at form the token-split
    subtree is inlined into the lambda and re-evaluated ~k·n times per
    row (measured 6.2 s → 1.1 s on the sf0.1 contamination query).
    Array-level args of zip_with are evaluated once per row, so this
    form splits the text only ~k+1 times per row."""
    t = tokens(col)
    n = F.size(t)
    n_sh = F.greatest(n - (k - 1), F.lit(0))  # shingle count
    acc = F.slice(t, 1, n_sh)
    for j in range(1, k):
        acc = F.zip_with(
            acc,
            F.slice(t, j + 1, n_sh),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.array_distinct(
        F.when(n >= k, acc).otherwise(F.array(F.concat_ws(" ", t)))
    )


def jaccard(a: Column, b: Column) -> Column:
    """|a ∩ b| / |a ∪ b| on distinct-element arrays (integer set sizes
    → one double division: deterministic everywhere)."""
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    block_col: str = "source",
    use_shingles: bool = False,
    shingle_k: int = 3,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs within a blocking key.

    Blocking bounds the self-join: candidates are same-``block_col``
    pairs, so cardinality is Σ block² not N². For unblocked discovery
    at scale use :func:`minhash_lsh_pairs` (probabilistic blocking).

    The gram sets are carried as xxhash64 values, not strings: Jaccard
    only needs set SIZES, which survive hashing (modulo a 64-bit
    collision inside one pair's union — odds ~n²/2⁶⁴), and
    array_intersect on fixed-width longs is ~2.2× faster than on
    strings (measured at sf0.1) while shuffling a fraction of the
    bytes.
    """
    raw = shingles(shingle_k) if use_shingles else F.array_distinct(tokens())
    grams = F.transform(raw, lambda g: F.xxhash64(g))
    # spread: the gram-hash HOF pass is the per-row cost and a single
    # row-group scan would run it on one core (guide §2.5); LAZY
    # localCheckpoint shares ONE evaluation of the fingerprint table
    # across both self-join sides (guide §3.3/§8: stage the signature
    # table, join the lightweight proxy) without paying a serialized
    # materialization job up front — the eager form was measured
    # ~+0.2 s of pure job latency here (same lesson as tpch_q11's
    # per-part table: the first action materializes it either way)
    d = spread(docs).select(
        F.col("doc_id"), F.col(block_col).alias("_blk"), grams.alias("_g")
    ).localCheckpoint(eager=False)
    a = d.select(
        F.col("doc_id").alias("doc_a"), "_blk", F.col("_g").alias("_ga")
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"), "_blk", F.col("_g").alias("_gb")
    )
    pairs = a.join(b, "_blk").filter(F.col("doc_a") < F.col("doc_b"))
    # PPJoin-style length filter: J(a,b) ≤ min(|a|,|b|)/max(|a|,|b|),
    # so a pair can reach the threshold only if the set sizes are
    # within a factor t of each other. The size conjunct is O(1) and
    # codegen's And short-circuits, so the O(|a|+|b|) intersect only
    # runs for size-compatible pairs. (Provably lossless — standard
    # length filter from the set-similarity-join literature.)
    sa, sb = F.size("_ga"), F.size("_gb")
    t = F.lit(float(threshold))
    length_ok = (sa >= t * sb) & (sb >= t * sa)
    # NOTE: jaccard() references array_intersect twice (output +
    # filter); measured, Catalyst's codegen subexpression elimination
    # already computes it once — an explicit persist() barrier here
    # was tried and is ~2× SLOWER (full materialization beats CSE).
    sim = jaccard(F.col("_ga"), F.col("_gb"))
    return (
        pairs.filter(length_ok)
        .select("doc_a", "doc_b", sim.alias("jaccard_sim"))
        .filter(F.col("jaccard_sim") >= F.lit(float(threshold)))
    )


def jaccard_pairs_vectorized(
    docs: DataFrame,
    threshold: float = 0.8,
    block_col: str = "source",
    use_shingles: bool = False,
    shingle_k: int = 3,
    shards: int = 1,
) -> DataFrame:
    """Exact same semantics (and bit-identical output) as
    :func:`jaccard_pairs`, computed as one numpy pass per block.

    Per block: build the doc×vocab 0/1 incidence matrix B over the
    block's distinct grams; ``B @ B.T`` gives ALL pairwise
    intersection sizes in one BLAS call. The entries are sums of 0/1
    products — exact integers in float64 (no rounding below 2^53), so
    BLAS summation reordering cannot change them, unlike a general
    dot product. The final ``inter / (|a|+|b|-inter)`` is the same
    integer-operand double division the expression path performs —
    oracle-exact by construction. Measured 2.6 s → 0.5 s at sf0.1.

    Scale shape: one task per block; needs n_block² doubles. For
    oversized blocks pass ``shards=S`` (triangle sharding, see
    operators/sharding.py: S× lower task memory, every pair scored
    exactly once) or use :func:`minhash_lsh_pairs` for unblocked
    corpora.
    """
    raw = shingles(shingle_k) if use_shingles else F.array_distinct(tokens())
    grams = F.transform(raw, lambda g: F.xxhash64(g))
    # no spread() here (tried r12, interleaved A/B, reverted): the
    # heavy work (the per-block numpy matmul) runs AFTER the groupBy
    # exchange, which redistributes rows anyway — a round-robin
    # Exchange ahead of it only parallelizes the cheap gram HOF and
    # cost ~0.2 s net on the bench action (0.54 → 0.75 s min)
    d = docs.select(
        F.col("doc_id"), F.col(block_col).alias("_blk"), grams.alias("_g")
    )
    schema = "doc_a long, doc_b long, jaccard_sim double"

    def score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        ids = pdf["doc_id"].to_numpy()
        gram_lists = [np.asarray(g, dtype=np.int64) for g in pdf["_g"]]
        n = len(ids)
        if n < 2:
            return pd.DataFrame(
                {"doc_a": [], "doc_b": [], "jaccard_sim": []}
            ).astype(
                {"doc_a": "int64", "doc_b": "int64", "jaccard_sim": "float64"}
            )
        vocab = np.unique(np.concatenate(gram_lists))
        B = np.zeros((n, len(vocab)))
        for i, g in enumerate(gram_lists):
            B[i, np.searchsorted(vocab, g)] = 1.0
        inter = B @ B.T
        sizes = B.sum(axis=1)
        union = sizes[:, None] + sizes[None, :] - inter
        jac = inter / union
        ia, ib = np.triu_indices(n, 1)
        keep = jac[ia, ib] >= threshold
        if "_ga" in pdf.columns:
            # triangle sharding (see operators/sharding.py): each
            # pair emitted by exactly one shard-pair group
            keep &= sharding.owned_pair_mask(pdf, ia, ib)
        return pd.DataFrame(
            {
                "doc_a": ids[ia[keep]],
                "doc_b": ids[ib[keep]],
                "jaccard_sim": jac[ia[keep], ib[keep]],
            }
        )

    if shards <= 1:
        return d.groupBy("_blk").applyInPandas(score_block, schema)
    return (
        sharding.triangle_shard(d, "doc_id", shards)
        .groupBy("_blk", "_ga", "_gb")
        .applyInPandas(score_block, schema)
    )


def contamination(
    docs: DataFrame,
    eval_docs: DataFrame,
    shingle_k: int = 3,
) -> DataFrame:
    """Benchmark-contamination check: which corpus docs contain any
    k-gram that also appears in the eval set — the standard
    train/test decontamination pass of an LLM data pipeline.

    Scale shape: the eval set is tiny next to the corpus, so its
    distinct gram set is BROADCAST — the corpus side streams through
    a map-side hash join with no shuffle of the 100 TB side; the only
    shuffle is the per-doc count aggregate (map-side combinable)."""
    g = shingles(shingle_k)
    ev = (
        eval_docs.select(F.explode(g).alias("gram")).distinct()
    )
    # spread: shingle explode is the corpus-side per-row cost (§2.5)
    d = spread(docs).select("doc_id", F.explode(g).alias("gram"))
    return (
        d.join(F.broadcast(ev), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_contaminated_grams"))
    )


def bloom_decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    shingle_k: int = 3,
    bits: int = 1 << 20,
    n_hashes: int = 2,
) -> DataFrame:
    """Decontamination shaped for eval sets too big to broadcast as an
    exact gram set: a Bloom-filter prefilter + exact verify, with an
    EXACT result (the bloom only prunes; stage 2 removes its false
    positives, so output == :func:`contamination` bit-for-bit — which
    is what makes this oracle-checkable despite the probabilistic
    middle).

    Plan: eval grams hash to ``n_hashes`` bit positions in a
    ``bits``-wide Bloom bitmap stored as a (word, bits) DataFrame of
    ≤ bits/64 BIGINT rows — 2^20 bits = 16K rows = 128 KiB broadcast
    REGARDLESS of eval-set size (the exact gram set of a 1e9-gram
    eval suite would be tens of GB). The corpus side then runs
    ``n_hashes`` chained broadcast hash joins + bit-mask filters —
    map-side only, the 100 TB side never shuffles — and only the
    surviving candidate grams (true hits + fpp) shuffle into the
    exact verify join against the eval gram set. Classic two-stage
    filter-verify; Bloom 1970, public literature.
    """
    m = int(bits)
    g = shingles(shingle_k)
    # ONE eval-gram evaluation (optimization r12, guide §5.3): the
    # distinct gram set feeds the bitmap build AND the exact verify,
    # and the bitmap is broadcast once per seed — lazy checkpoints
    # share the cached results instead of re-running the explode +
    # distinct per consumer.
    ev = (
        eval_docs.select(F.explode(g).alias("gram"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    seeds = list(range(int(n_hashes)))

    def _pos(s: int, col) -> Column:
        return F.pmod(F.xxhash64(F.lit(s), col), F.lit(m))

    positions = ev.select(
        F.explode(
            F.array(*[_pos(s, F.col("gram")) for s in seeds])
        ).alias("pos")
    )
    words = (
        positions.select(
            F.expr("pos div 64").alias("word"),
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("_m"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(_m)").alias("bits"))
        .localCheckpoint(eager=False)
    )
    cand = spread(docs).select("doc_id", F.explode(g).alias("gram"))
    for s in seeds:
        w = words.select(
            F.col("word").alias(f"_w{s}"), F.col("bits").alias(f"_b{s}")
        )
        cand = (
            cand.withColumn("_pos", _pos(s, F.col("gram")))
            .withColumn("_word", F.expr("_pos div 64"))
            .withColumn(
                "_mask", F.expr("shiftleft(1L, cast(_pos % 64 as int))")
            )
            .join(
                F.broadcast(w), F.col("_word") == F.col(f"_w{s}"), "inner"
            )
            .filter(
                F.col(f"_b{s}").bitwiseAND(F.col("_mask")) == F.col("_mask")
            )
            .drop("_pos", "_word", "_mask", f"_w{s}", f"_b{s}")
        )
    hits = cand.join(ev, "gram", "left_semi")  # exact verify
    return hits.groupBy("doc_id").agg(
        F.count_distinct("gram").alias("n_contaminated_grams")
    )


# ---------------------------------------------------------- minhash

def _minhash_bands_pandas(
    docs: DataFrame, num_hashes: int, bands: int, shingle_k: int
) -> DataFrame:
    """(doc_id, _g shingle-hash array, _bands band-hash array) in ONE
    Arrow-batched pass: numpy shingle hashing + numpy affine-rehash
    MinHash (sig_i = min over shingles of a_i·h + b_i mod 2^64 —
    universal-hash family, deterministic everywhere; integer
    wrap-around is the modulus). Replaces an interpreted HOF chain
    that evaluated 64 lambdas per doc.

    Shingle hash h: blake2b64 per DISTINCT token (dict-cached across
    the batch — vocabulary ≪ token count), then a vectorized
    multiply-xor fold over each k-token window + splitmix64
    finalizer. An earlier version ran hashlib.blake2b once per
    shingle STRING — 3.8 s of the 4.6 s query at sf0.1; this numpy
    path cuts the stage to the token-hash cache misses.

    ``_g`` carries the shingle hashes, not the shingle strings: the
    exact-Jaccard verify stage only needs set sizes, and long arrays
    are cheaper to persist, shuffle, and intersect than strings."""
    import hashlib
    from collections.abc import Iterator

    from pyspark.sql import types as T

    rows_per_band = num_hashes // bands

    def _mix(i: int) -> int:
        z = (i * 0x9E3779B97F4A7C15 + 0xBF58476D1CE4E5B9) & ((1 << 64) - 1)
        z = (z ^ (z >> 31)) * 0x94D049BB133111EB & ((1 << 64) - 1)
        return z

    A = np.array([_mix(2 * i) | 1 for i in range(num_hashes)], dtype=np.uint64)
    B = np.array([_mix(2 * i + 1) for i in range(num_hashes)], dtype=np.uint64)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("_g", T.ArrayType(T.LongType())),
            T.StructField("_bands", T.ArrayType(T.LongType())),
        ]
    )

    FOLD_P = np.uint64(0x100000001B3)  # FNV-1a prime, odd ⇒ bijective ×

    def _finalize(acc: np.ndarray) -> np.ndarray:
        # splitmix64 finalizer: spreads fold output over all 64 bits
        z = acc.copy()
        z ^= z >> np.uint64(30)
        z *= np.uint64(0xBF58476D1CE4E5B9)
        z ^= z >> np.uint64(27)
        z *= np.uint64(0x94D049BB133111EB)
        z ^= z >> np.uint64(31)
        return z

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tok_cache: dict[str, int] = {}

        def th(t: str) -> int:
            h = tok_cache.get(t)
            if h is None:
                h = int.from_bytes(
                    hashlib.blake2b(t.encode(), digest_size=8).digest(), "little"
                )
                tok_cache[t] = h
            return h

        for pdf in batches:
            gs, band_arrays = [], []
            for text in pdf["text"]:
                toks = (text or "").lower().split(" ")
                n = len(toks)
                hs = np.fromiter((th(t) for t in toks), dtype=np.uint64, count=n)
                k = shingle_k if n >= shingle_k else n
                with np.errstate(over="ignore"):
                    acc = np.zeros(n - k + 1, dtype=np.uint64)
                    for j in range(k):
                        acc = acc * FOLD_P ^ hs[j : n - k + 1 + j]
                    base = np.unique(_finalize(acc))
                    sig = (A[:, None] * base[None, :] + B[:, None]).min(axis=1)
                g = base.astype(np.int64).tolist()
                bands_ = sig.reshape(bands, rows_per_band)
                bh = [
                    np.int64(
                        np.frombuffer(
                            hashlib.blake2b(
                                band.tobytes(), digest_size=8
                            ).digest(),
                            dtype=np.uint64,
                        )[0].astype(np.int64)
                    ).item()
                    for band in bands_
                ]
                gs.append(g)
                band_arrays.append(bh)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "_g": gs, "_bands": band_arrays}
            )

    # spread: the blake2b/affine-rehash pass is pure Python CPU; a
    # one-row-group scan would hand the whole corpus to ONE worker
    # (guide §2.5/§4 — parallelize before the Python boundary)
    return spread(docs).select("doc_id", "text").mapInPandas(
        run, schema=schema
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, verified with exact
    shingle Jaccard.

    Pipeline (each stage one DataFrame op, scale-safe):
      1. shingle + signature + band hashes: one Arrow-batched
         mapInPandas pass (see _minhash_bands_pandas), persisted —
         the in-session analogue of writing the signature table,
         which is how a 100 TB run stages this;
      2. banding: explode into (band_id, band_hash) keys — docs
         sharing any band bucket become candidates (the classic
         s-curve: P[candidate] = 1-(1-j^r)^b, r = hashes/bands);
      3. bucket self-join on (band_id, band_hash) → candidate pairs
         (distinct), join cardinality Σ bucket², never N²;
      4. verify candidates with exact Jaccard on shingle sets and
         filter by ``threshold`` — LSH only proposes, never decides.
    """
    # eager localCheckpoint, not persist(): same compute-once benefit
    # on both sides of the self-join, but the blocks are reclaimed by
    # the ContextCleaner once the DataFrame is GC'd — a persist()
    # here leaks executor storage until someone calls unpersist(),
    # which a function returning a lazy result can never safely do
    d = _minhash_bands_pandas(
        docs, num_hashes, bands, shingle_k
    ).localCheckpoint(eager=True)
    banded = d.select(
        "doc_id",
        "_g",
        F.posexplode(F.col("_bands")).alias("band_id", "band_hash"),
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("_g").alias("_ga"),
        "band_id",
        "band_hash",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("_g").alias("_gb"),
        "band_id",
        "band_hash",
    )
    candidates = (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "_ga", "_gb")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sim = jaccard(F.col("_ga"), F.col("_gb"))
    return candidates.select(
        "doc_a", "doc_b", sim.alias("jaccard_sim")
    ).filter(F.col("jaccard_sim") >= F.lit(float(threshold)))


_M31 = 1 << 31  # modulus of the portable 31-bit universal hash family


def _md5_low31(s: Column) -> Column:
    """Portable 31-bit string hash: the low 31 bits of the
    little-endian low-64 md5 word — i.e. DuckDB's
    ``md5_number_lower(s) & 0x7FFFFFFF``, rebuilt here from Spark
    built-ins only. Digest bytes 8..11 are hex chars 17..24 of
    ``md5()``; little-endian means reversing the four hex pairs
    before ``conv``. Stays in whole-stage codegen (md5 + substring +
    conv), no Python anywhere."""
    m = F.md5(s)
    le = F.concat(
        F.substring(m, 23, 2),
        F.substring(m, 21, 2),
        F.substring(m, 19, 2),
        F.substring(m, 17, 2),
    )
    return F.conv(le, 16, 10).cast("long").bitwiseAND(F.lit(0x7FFFFFFF))


def minhash_pairs_portable(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs in a fully
    engine-portable formulation — every number (shingle hash,
    permuted min, band key, candidate set, exact Jaccard) is
    reproducible bit-for-bit in ANSI SQL, so the WHOLE LSH mechanism
    — banding included — carries an external hash-checked oracle.
    The performance path is :func:`minhash_lsh_pairs` (Arrow-batched
    blake2b + affine-rehash numpy); this twin exists so that the
    banded candidate generation itself is externally verified, the
    same role ``simhash_pairs_global`` plays for the Hamming family.

    Portability recipe:
      - shingle hash = :func:`_md5_low31` (DuckDB
        ``md5_number_lower & 0x7FFFFFFF``), distinct per doc — a
        31-bit collision merges two shingles identically in both
        engines, so even collisions are oracle-consistent;
      - permutation i: sig_i = min over shingle hashes h of
        ``(a_i·h + b_i) mod 2³¹`` with a_i = (2i+1)·2654435761
        mod 2³¹ (odd — Knuth multiplicative constant), b_i =
        (i·2246822519 + 3266489917) mod 2³¹. All intermediates
        < 2⁶² — no 64-bit overflow, so ANSI engines agree exactly;
      - band key: the r = num_hashes/bands per-band mins joined
        ``','``-separated (string equality == tuple equality);
      - verify: exact Jaccard on the distinct shingle-hash sets —
        integer set sizes, one double division.

    Plan shape is the same Σ bucket² bucket-join as the fast path:
    signatures are one projection (HOF transform over the shingle
    array — interpreted lambdas but JVM-side, no Python), banding is
    posexplode + self-join on (band_id, band_key), never N².
    """
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    r = num_hashes // bands
    sh = shingles(shingle_k)
    # spread: shingling + 31-bit md5 + the 32-permutation signature
    # below are the per-row cost; a one-row-group scan would run all
    # of it single-core before the checkpoint (guide §2.5)
    d = spread(docs).select(
        "doc_id",
        F.array_distinct(F.transform(sh, _md5_low31)).alias("_h"),
    )
    a_i = lambda i: (i * 2 + 1) * F.lit(2654435761) % F.lit(_M31)
    b_i = lambda i: (i * F.lit(2246822519) + F.lit(3266489917)) % F.lit(
        _M31
    )
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(
                F.col("_h"), lambda h: (a_i(i) * h + b_i(i)) % F.lit(_M31)
            )
        ),
    )
    d = d.withColumn("_sig", sig).localCheckpoint(eager=True)
    band_keys = F.array(
        *[
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.col("_sig"), j * r + 1, r),
                    lambda x: x.cast("string"),
                ),
            )
            for j in range(bands)
        ]
    )
    # THIN banding (guide §2.3/§8: shuffle keys, not payloads): the
    # band explode + self-join used to carry the full shingle-hash
    # array on BOTH sides (bands× replicated through the exchange)
    # and dedup pairs with the arrays in tow — a sort-based aggregate
    # (arrays aren't hash-aggregatable). Band keys alone generate the
    # same candidate pairs; the arrays are attached ONCE per
    # surviving pair by joining back to the checkpointed signature
    # table, and the pair dedup is a hash aggregate over two BIGINTs.
    keyed = d.select(
        "doc_id",
        F.posexplode(band_keys).alias("band_id", "band_key"),
    )
    a = keyed.select(
        F.col("doc_id").alias("doc_a"), "band_id", "band_key"
    )
    b = keyed.select(
        F.col("doc_id").alias("doc_b"), "band_id", "band_key"
    )
    candidates = (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ha = d.select(F.col("doc_id").alias("doc_a"), F.col("_h").alias("_ha"))
    hb = d.select(F.col("doc_id").alias("doc_b"), F.col("_h").alias("_hb"))
    return (
        candidates.join(ha, "doc_a")
        .join(hb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            jaccard(F.col("_ha"), F.col("_hb")).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= F.lit(float(threshold)))
    )


def span_dup_ratio(docs: DataFrame, k: int = 8) -> DataFrame:
    """Exact-substring duplication metric (the ExactSubstr/RefinedWeb
    signal, at span granularity): for every document, the fraction of
    its distinct k-token spans that also occur in at least one OTHER
    document. Filtering on ``dup_ratio`` removes boilerplate-heavy
    documents that near-dup pair metrics miss (they share spans with
    MANY docs without being a near-dup of any single one).

    Plan shape: spans are carried as xxhash64 values (counts only —
    a 64-bit collision merges two span counts with odds ~n²/2⁶⁴, the
    same argument as jaccard_pairs); the per-gram occurrence count is
    drawn beside every span row in ONE gram-partitioned window pass
    (optimization r12, guide §2.4 — the earlier aggregate +
    same-key join-back re-ran the tokenize + k-slide + xxhash
    explode on both branches), then one doc_id aggregation. Never
    materializes a pairwise join — linear in corpus size, the only
    100 TB-safe shape for substring-level dedup.
    """
    from pyspark.sql.window import Window

    # spread: the span explode (tokenize + k-slide + xxhash) is the
    # per-row cost; a one-row-group scan would serialize it onto one
    # core (§2.5)
    g = spread(docs).select(
        "doc_id",
        F.explode(
            F.transform(shingles(k), lambda s: F.xxhash64(s))
        ).alias("gram"),
    )
    return (
        g.withColumn(
            "_n_docs",
            F.count("*").over(Window.partitionBy("gram")),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum((F.col("_n_docs") >= 2).cast("bigint")).alias(
                "n_dup_spans"
            ),
        )
        .withColumn(
            "dup_ratio", F.col("n_dup_spans") / F.col("n_spans")
        )
    )


def ngram_novelty(docs: DataFrame, k: int = 8) -> DataFrame:
    """Crawl-snapshot novelty scoring — "is this document adding
    anything the corpus hasn't seen?": for every document, the
    fraction of its distinct k-token spans whose FIRST occurrence
    (smallest doc_id — the arrival order under append-only ids) is
    this document. Low novelty at ingest time = the crawl is
    re-fetching what's already stored; per-source aggregation of this
    signal drives re-crawl scheduling.

    Same linear plan family as :func:`span_dup_ratio`: spans as
    xxhash64 values, the per-gram MIN doc_id drawn beside every span
    in one gram-partitioned window pass (optimization r12, guide
    §2.4 — replaces the aggregate + same-key join-back that re-ran
    the span explode on both branches), one doc aggregate — never a
    pairwise join. Exact-integer ppm output, oracle-paired.
    """
    from pyspark.sql.window import Window

    # spread: same explode shape as span_dup_ratio (§2.5)
    g = spread(docs).select(
        "doc_id",
        F.explode(
            F.transform(shingles(k), lambda s: F.xxhash64(s))
        ).alias("gram"),
    )
    return (
        g.withColumn(
            "_first",
            F.min("doc_id").over(Window.partitionBy("gram")),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_spans"),
            F.sum(
                (F.col("doc_id") == F.col("_first")).cast("bigint")
            ).alias("n_novel"),
        )
        .withColumn(
            "novelty_ppm",
            F.expr("n_novel * 1000000 div n_spans").cast("bigint"),
        )
    )


# ----------------------------------------------------------- simhash

def simhash(
    docs: DataFrame,
    bits: int = 64,
    extra: dict[str, Column] | None = None,
) -> DataFrame:
    """SimHash fingerprint: bit j of the hash is the sign of
    \u03a3_tokens (2\u00b7bit_j(hash(token)) \u2212 1). Near-dups have small
    Hamming distance.

    Implemented as an Arrow-batched pandas UDF: the 64 per-bit votes
    become one numpy ``unpackbits`` + column sum per doc, replacing 64
    interpreted HOF aggregate lambdas per row (~4x faster measured at
    sf0.1, and the gap widens with document length). The token hash is
    the low 64 bits of md5 (digest bytes 8..16, little-endian) \u2014
    deterministic across workers and sessions, and bit-identical to
    DuckDB's ``md5_number_lower``, which is what lets the corpus-global
    pairing carry a full from-text SQL oracle."""
    from pyspark.sql.types import LongType

    if bits != 64:
        raise ValueError("simhash supports bits=64 only")

    @F.pandas_udf(LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        # Batch-level unique-token hashing (optimization r12, guide
        # §4.2): tokens repeat heavily across the documents of one
        # Arrow batch, so md5 runs once per DISTINCT token in the
        # batch instead of once per occurrence; each doc then sums
        # pre-unpacked bit rows by index. The per-doc vote sum is
        # order-independent, so dropping the old sorted() and the
        # per-doc hashing changes nothing in the output word.
        out = np.empty(len(texts), dtype=np.int64)
        weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))
        vocab: dict[str, int] = {}
        idx_lists: list[np.ndarray] = []
        for t in texts:
            toks = set((t or "").lower().split(" "))
            idxs = np.empty(len(toks), dtype=np.intp)
            for j, tok in enumerate(toks):
                k = vocab.get(tok)
                if k is None:
                    k = vocab[tok] = len(vocab)
                idxs[j] = k
            idx_lists.append(idxs)
        if vocab:
            hs = np.frombuffer(
                b"".join(
                    hashlib.md5(tok.encode()).digest()[8:16]
                    for tok in vocab
                ),
                dtype=np.uint8,
            ).reshape(-1, 8)
            bits_all = np.unpackbits(
                hs, axis=1, bitorder="little"
            ).astype(np.int64)
        for i, idxs in enumerate(idx_lists):
            if len(idxs) == 0:
                out[i] = 0
                continue
            votes = 2 * bits_all[idxs].sum(axis=0) - len(idxs)
            word = np.bitwise_or.reduce(weights[votes > 0]) if (votes > 0).any() else np.uint64(0)
            out[i] = np.int64(np.uint64(word))
        return pd.Series(out)

    # spread: the md5-vote UDF is pure Python CPU; parallelize before
    # the Python boundary (§2.5/§4). ``extra`` lets a caller evaluate
    # per-doc expressions (e.g. the content-hash split label) in this
    # same projection instead of re-scanning the corpus to join them
    # back at pair cardinality later (optimization r12, guide §2.4).
    cols = [F.col("doc_id"), _simhash(F.col("text")).alias("simhash")]
    if extra:
        cols.extend(e.alias(n) for n, e in extra.items())
    return spread(docs).select(*cols)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_bands(col: Column, n_bands: int) -> list[Column]:
    """Split a 64-bit fingerprint into ``n_bands`` disjoint bit-bands
    (widths as even as possible), low bits first. Pure bit arithmetic
    — shiftrightunsigned + mask — so it stays in whole-stage codegen."""
    sizes = [64 // n_bands + (1 if i < 64 % n_bands else 0) for i in range(n_bands)]
    out, off = [], 0
    for s in sizes:
        # s == 64 (single band): the all-ones mask doesn't fit a
        # signed JVM long as (1<<64)-1 — it IS -1 in two's complement
        mask = (1 << s) - 1 if s < 64 else -1
        out.append(
            F.shiftrightunsigned(col, off).bitwiseAND(F.lit(mask))
        )
        off += s
    return out


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 8,
    block_col: str | None = "source",
    n_bands: int | None = None,
    carry: dict[str, Column] | None = None,
) -> DataFrame:
    """SimHash near-dup pairs via Hamming prefix-band LSH.

    Pigeonhole candidate generation: split the 64-bit fingerprint into
    ``b = max_hamming + 1`` disjoint bit-bands; a pair within
    ``max_hamming`` Hamming distance has fewer differing bits than
    bands, so it agrees EXACTLY on at least one band. Bucket-joining on
    ``(band_id, band_value)`` is therefore a LOSSLESS candidate
    generator (unlike MinHash banding, which is probabilistic), and the
    exact ``hamming64 <= max_hamming`` verify keeps output identical to
    a brute-force pairing.

    Scale shape: candidates are Σ bucket² over (band_id, band_value
    [, block]) buckets — never a Σ block² self-join. Expected bucket
    population is N/2^(64/b) per band under uniform fingerprints, so
    smaller ``max_hamming`` (wider bands) prunes harder; ``block_col``
    further subdivides buckets and preserves the blocked semantics
    (pass None for corpus-global pairing).

    ``carry`` (optimization r12, guide §2.4): per-doc expressions
    evaluated in the SAME fingerprint projection and carried through
    the band join, emitted as ``<name>_a`` / ``<name>_b`` on each
    pair. A caller that needs a pure-function-of-doc label on both
    pair ends (e.g. split_leak_check's train/val/test tag) gets it
    for a few bytes per band row instead of two pair-cardinality
    join-backs that each re-scan the corpus.
    """
    b = n_bands if n_bands is not None else max_hamming + 1
    if b <= max_hamming:
        raise ValueError("n_bands must exceed max_hamming (pigeonhole)")
    carry = carry or {}
    # eager localCheckpoint: the per-bit vote UDF would otherwise run
    # on both sides of the self-join; unlike persist() the blocks are
    # reference-counted away after driver GC (no storage leak across
    # a long-lived session — see minhash note)
    s = simhash(docs, extra=carry)
    if block_col is not None:
        s = s.join(docs.select("doc_id", F.col(block_col).alias("_blk")), "doc_id")
    else:
        s = s.withColumn("_blk", F.lit(0))
    s = s.localCheckpoint(eager=True)
    keyed = s.select(
        "doc_id",
        "simhash",
        "_blk",
        *carry,
        F.posexplode(F.array(*simhash_bands(F.col("simhash"), b))).alias(
            "_band_id", "_band_val"
        ),
    )
    a = keyed.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("_ha"),
        "_blk", "_band_id", "_band_val",
        *[F.col(n).alias(f"{n}_a") for n in carry],
    )
    bb = keyed.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("_hb"),
        "_blk", "_band_id", "_band_val",
        *[F.col(n).alias(f"{n}_b") for n in carry],
    )
    return (
        a.join(bb, ["_blk", "_band_id", "_band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            hamming64(F.col("_ha"), F.col("_hb")).alias("hamming"),
            *[f"{n}_a" for n in carry],
            *[f"{n}_b" for n in carry],
        )
        .filter(F.col("hamming") <= max_hamming)
        # a pair sharing k bands surfaces k times; hamming (and any
        # carried column — pure per-doc functions) is a pure function
        # of the pair so any copy is the canonical row
        .dropDuplicates(["doc_a", "doc_b"])
    )


def fuzzy_pairs(
    docs: DataFrame,
    prefix_len: int = 24,
    max_dist: int = 6,
    block_col: str = "source",
) -> DataFrame:
    """Edit-distance near-match pairs — REGIME DISPATCHER.

    Tight thresholds (``4 * max_dist <= prefix_len``: segments of 3+
    chars) go to the sub-quadratic PassJoin path
    (:func:`fuzzy_pairs_banded` — lossless, so the output is
    bit-identical); looser dials fall back to
    :func:`fuzzy_pairs_quadratic`, the only sound plan once segment
    pigeonholes degenerate to 1–2 chars and no filter can prune.
    Both branches return the same (doc_a, doc_b, edit_dist) rows for
    the same dials — the dispatch threshold changes the PLAN, never
    the answer (property-pinned across the boundary).
    """
    if 4 * int(max_dist) <= int(prefix_len):
        return fuzzy_pairs_banded(docs, prefix_len, max_dist, block_col)
    return fuzzy_pairs_quadratic(docs, prefix_len, max_dist, block_col)


def fuzzy_pairs_quadratic(
    docs: DataFrame,
    prefix_len: int = 24,
    max_dist: int = 6,
    block_col: str = "source",
) -> DataFrame:
    """Edit-distance near-match pairs (entity-resolution flavor of
    near-dup): documents in the same block whose normalized text
    PREFIXES are within ``max_dist`` Levenshtein edits.

    LOOSE-REGIME FALLBACK: candidates are the blocked Σ block²
    self-join, which is the right plan only where the PassJoin
    segment filter provably cannot prune (``max_dist`` a large
    fraction of ``prefix_len``). For tight thresholds call
    :func:`fuzzy_pairs` (dispatches to the banded path). The O(p²)
    Levenshtein DP runs on fixed-length prefixes, not full documents
    (prefix distance lower-bounds full-text distance for
    prefix-preserved edits). Edit distance is an exact integer
    metric, so the oracle comparison is tolerance-free.
    """
    pre = F.substring(F.regexp_replace(F.lower(F.col("text")), " +", " "), 1, int(prefix_len))
    # spread: the O(p²) levenshtein verify over Σ block² candidates
    # inherits the probe side's layout — a one-row-group scan would
    # run every DP cell on one core (§2.5)
    d = spread(docs).select(
        "doc_id", F.col(block_col).alias("_blk"), pre.alias("_pre")
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"), "_blk", F.col("_pre").alias("_pa")
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"), "_blk", F.col("_pre").alias("_pb")
    )
    return (
        a.join(b, "_blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # plain (unbanded) levenshtein deliberately: Spark's
        # threshold variant promises a banded DP but measures 1.5×
        # SLOWER here (6.0 s vs 4.0 s on 625k pairs at sf0.1) — the
        # banded implementation's per-call overhead exceeds the
        # saved cells at p=24. Re-evaluate if prefix_len grows.
        .withColumn("edit_dist", F.levenshtein(F.col("_pa"), F.col("_pb")))
        .filter(F.col("edit_dist") <= int(max_dist))
        .select("doc_a", "doc_b", "edit_dist")
    )


def fuzzy_pairs_banded(
    docs: DataFrame,
    prefix_len: int = 24,
    max_dist: int = 6,
    block_col: str = "source",
) -> DataFrame:
    """Edit-distance near-match pairs with SUB-QUADRATIC candidate
    generation (PassJoin-style segment pigeonhole), output identical
    to :func:`fuzzy_pairs` at the same dials.

    Pigeonhole: partition each normalized prefix ``s`` into
    ``m = max_dist + 1`` contiguous segments. Any string ``r`` with
    ``ed(r, s) <= max_dist`` must contain at least one segment of
    ``s`` EXACTLY, starting within ``±max_dist`` of its position in
    ``s`` (each edit shifts downstream characters by at most one). So:

      1. index side: each doc emits its m segments, keyed by
         (block, |s|, slot, segment-text);
      2. probe side: each doc emits, for every indexed length
         ``Ls ∈ [L-d, L]`` present in its block (broadcast-joined
         distinct-length dimension — lengths, not docs) and every
         slot, the substrings at the ≤ 2d+1 admissible positions;
      3. equi-join on the key → candidates; exact ``levenshtein``
         verify keeps only true pairs.

    Candidates are Σ bucket² over (block, len, slot, gram) buckets —
    never the Σ block² self-join of :func:`fuzzy_pairs`. The filter is
    LOSSLESS (superset of qualifying pairs), so the verified output is
    bit-identical to the quadratic path.

    Regime note: pruning power comes from segment length
    ``≈ prefix_len / (max_dist+1)``. For tight thresholds
    (``max_dist ≲ prefix_len/4``) segments are 3+ chars and buckets
    are sparse; at very loose thresholds (e.g. d=12 on 24-char
    prefixes) segments degenerate to 1–2 chars and NO sound filter
    can prune — use :func:`fuzzy_pairs` (optimal there) or MinHash on
    character shingles (probabilistic) instead.

    Strings shorter than ``m`` chars cannot be segment-indexed; they
    take a catch-all path (all-pairs against blocks' ≤ 2d-char
    strings — degenerate by construction, broadcast-sized).
    """
    d = int(max_dist)
    m = d + 1
    pre = F.substring(
        F.regexp_replace(F.lower(F.col("text")), " +", " "), 1, int(prefix_len)
    )
    # spread: segment explode + the levenshtein verify downstream
    # inherit the scan layout (§2.5, same reasoning as the quadratic
    # path). Project to the three used columns BEFORE the spread
    # exchange (§2.2), and stage the narrow prefix table ONCE
    # (optimization r12, guide §5.3): five consumers (idx, lens,
    # probe0, shorts, partners) otherwise each re-run the scan and
    # the full-text lower+regexp normalization — Catalyst clones a
    # shared subtree per consumer and exchange reuse never fires
    # across the clones.
    base = (
        spread(docs.select("doc_id", block_col, "text"))
        .select(
            "doc_id", F.col(block_col).alias("_blk"), pre.alias("_pre")
        )
        .withColumn("_L", F.length("_pre"))
        .localCheckpoint(eager=True)
    )
    main = base.filter(F.col("_L") >= m)

    # ---- index side: the m segments of every string (even partition)
    segs = []
    for i in range(m):
        st = F.expr(f"({i} * _L) div {m}")
        en = F.expr(f"({i + 1} * _L) div {m}")
        segs.append(
            F.struct(
                F.lit(i).alias("slot"),
                F.substring(F.col("_pre"), st + F.lit(1), en - st).alias("seg"),
            )
        )
    idx = main.select(
        F.col("doc_id").alias("_id_s"),
        "_blk",
        F.col("_pre").alias("_ps"),
        F.col("_L").alias("_Ls"),
        F.explode(F.array(*segs)).alias("_k"),
    ).select(
        "_id_s", "_blk", "_ps", "_Ls",
        F.col("_k.slot").alias("_slot"), F.col("_k.seg").alias("_seg"),
    )

    # ---- probe side: substrings that could match an Ls-layout
    # segment. The distinct-length dimension is tiny (≤ prefix_len
    # rows per block) → broadcast; it bounds probe keys to lengths
    # that actually occur.
    lens = main.select("_blk", F.col("_L").alias("_Ls")).distinct()
    probe0 = (
        main.join(F.broadcast(lens), "_blk")
        .filter(
            (F.col("_Ls") <= F.col("_L"))
            & (F.col("_Ls") >= F.col("_L") - d)
        )
    )
    key_arrays = []
    for i in range(m):
        st = F.expr(f"({i} * _Ls) div {m}")
        ln = F.expr(f"(({i + 1} * _Ls) div {m}) - (({i} * _Ls) div {m})")
        lo = F.greatest(F.lit(0), st - d)
        hi = F.least(F.col("_L") - ln, st + d)
        pos = F.when(lo <= hi, F.sequence(lo, hi)).otherwise(
            F.array().cast("array<bigint>")
        )
        def _key_struct(i: int, ln: Column):
            return lambda p: F.struct(
                F.lit(i).alias("slot"), p.alias("pos"), ln.alias("ln")
            )

        key_arrays.append(F.transform(pos, _key_struct(i, ln)))
    probe = probe0.select(
        F.col("doc_id").alias("_id_r"),
        "_blk",
        F.col("_pre").alias("_pr"),
        "_Ls",
        F.explode(F.flatten(F.array(*key_arrays))).alias("_k"),
    ).select(
        "_id_r", "_blk", "_pr", "_Ls",
        F.col("_k.slot").alias("_slot"),
        F.substring(
            F.col("_pr"), (F.col("_k.pos") + F.lit(1)).cast("int"),
            F.col("_k.ln").cast("int"),
        ).alias("_seg"),
    )

    cand = probe.join(idx, ["_blk", "_Ls", "_slot", "_seg"]).filter(
        F.col("_id_s") != F.col("_id_r")
    )
    swap = F.col("_id_s") < F.col("_id_r")
    pairs = cand.select(
        F.least("_id_s", "_id_r").alias("doc_a"),
        F.greatest("_id_s", "_id_r").alias("doc_b"),
        F.when(swap, F.col("_ps")).otherwise(F.col("_pr")).alias("_pa"),
        F.when(swap, F.col("_pr")).otherwise(F.col("_ps")).alias("_pb"),
    ).dropDuplicates(["doc_a", "doc_b"])
    out = (
        pairs.withColumn("edit_dist", F.levenshtein("_pa", "_pb"))
        .filter(F.col("edit_dist") <= d)
        .select("doc_a", "doc_b", "edit_dist")
    )

    # ---- catch-all for degenerate-short strings (L < m): partner
    # length is ≤ L + d < 2d+1, so both sides are bounded-short.
    shorts = base.filter(F.col("_L") < m)
    partners = base.filter(F.col("_L") <= 2 * d)
    extra = (
        F.broadcast(
            shorts.select(
                F.col("doc_id").alias("_id_s"), "_blk",
                F.col("_pre").alias("_ps"),
            )
        )
        .join(
            partners.select(
                F.col("doc_id").alias("_id_r"), "_blk",
                F.col("_pre").alias("_pr"),
            ),
            "_blk",
        )
        .filter(F.col("_id_s") != F.col("_id_r"))
        .select(
            F.least("_id_s", "_id_r").alias("doc_a"),
            F.greatest("_id_s", "_id_r").alias("doc_b"),
            F.when(swap, F.col("_ps")).otherwise(F.col("_pr")).alias("_pa"),
            F.when(swap, F.col("_pr")).otherwise(F.col("_ps")).alias("_pb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("edit_dist", F.levenshtein("_pa", "_pb"))
        .filter(F.col("edit_dist") <= d)
        .select("doc_a", "doc_b", "edit_dist")
    )
    return out.unionByName(extra)
