"""Scale-up probe: does the core pipeline scale linearly?

Synthesizes N× the sf0.1 events table (id/time-shifted copies — same
key cardinality per copy, more data volume), writes it as parquet,
and times the core series pipeline (quantize+LWW, dense fetch,
rollup, window agg) at each multiple. Linear wall-time growth with
flat per-row cost = the plan survives scale-up; super-linear growth
flags a shuffle or skew problem.

Usage: python tools/scale_probe.py [multiples ...]   (default 1 4 16)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import ceres_spark.operators.aggregate as agg
import ceres_spark.operators.compact as cp
import ceres_spark.operators.series as ser
import ceres_spark.sources.tables as tbl
from ceres_spark.session import get_spark

T0 = 1704067200
DAY = 86400


def synthesize(spark, base_dir: str, mult: int, out: str) -> int:
    import pyspark.sql.types as T

    ev = tbl.load(spark, "events", base_dir)
    n = ev.count()
    is_nanos = isinstance(ev.schema["ts"].dataType, T.LongType)
    parts = []
    for i in range(mult):
        # shift each copy by i minutes so timestamps interleave
        # without colliding (keeps per-bucket density realistic);
        # ts arrives as epoch-nanos LONG (nanosAsLong read of
        # TIMESTAMP(NANOS)) or as a real timestamp — handle both
        # like tables.points does
        shifted = (
            F.col("ts") + F.lit(i * 60_000_000_000)
            if is_nanos
            else F.col("ts") + F.expr(f"INTERVAL {i * 60} SECONDS")
        )
        parts.append(
            ev.select(
                (F.col("event_id") + i * n).alias("event_id"),
                shifted.alias("ts"),
                "user_id",
                "event_type",
                "value",
                "props",
            )
        )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    allp.write.mode("overwrite").parquet(out)
    return n * mult


def time_pipeline(spark, sf_dir: str) -> dict[str, float]:
    pts = tbl.points(spark, sf_dir)
    t = {}
    t0 = time.perf_counter()
    cp.lww_dedup(cp.quantize(pts, 600)).count()
    t["quantize_lww"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    metrics = pts.select("metric").distinct()
    ser.read_series(pts, metrics, T0, T0 + 7 * DAY, 3600, "average").count()
    t["fetch_dense_7d"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    agg.aggregate_series(cp.compact(pts, 60), "average", 3600).count()
    t["rollup_1h"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    import ceres_spark.operators.analytics as ana

    ana.funnel(tbl.load(spark, "events", sf_dir)).collect()
    t["funnel"] = round(time.perf_counter() - t0, 2)
    return t


def synthesize_docs(
    spark, base_dir: str, mult: int, out: str, dup_rate: float | None = None
) -> int:
    """N× documents as id-shifted copies with DISTINCT source/label
    block keys per copy: block COUNT scales, block size stays fixed —
    the dimension blocked pairwise ops must scale along (within-block
    work is quadratic by design; more corpus = more blocks).

    dup_rate=None (default) keeps the historical shape: every copy
    carries the VERBATIM base text, so each base doc's copies are
    mutual near-dups and pair output grows ~quadratically with mult —
    fine for correctness-at-volume, but it made the r5/r6 16× probes
    of near-dup ops OUTPUT-bound (the recurring 'verbatim-copy
    fixture confound' caveat, VERDICT r6 missing #4).

    dup_rate=r holds duplicate DENSITY constant instead, so probes
    measure compute scaling: every doc in every copy gets a
    per-(doc, copy) salt token appended to each word (JVM-side HOF —
    kills word-shingle Jaccard AND simhash feature overlap across
    copies and across the base corpus's natural near-dups), then each
    copy plants verbatim twins for an r-fraction of its docs (twin =
    extra row, same salted text, same per-copy source block, fresh
    doc_id). Expected dup pairs = r·n per copy — linear in mult, and
    the ONLY near-dup pairs by construction."""
    docs = tbl.load(spark, "documents", base_dir)
    n = docs.count()
    stride = 2 * n  # room per copy for the planted-twin rows
    parts = []
    for i in range(mult):
        src = F.concat(F.col("source"), F.lit(f"#{i}")).alias("source")
        if dup_rate is None:
            parts.append(
                docs.select(
                    (F.col("doc_id") + i * n).alias("doc_id"),
                    "text",
                    "lang",
                    src,
                    "n_chars",
                )
            )
            continue
        salt = F.conv(
            F.abs(F.xxhash64(F.col("doc_id"), F.lit(i))).cast("string"),
            10,
            36,
        )
        salted_text = F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda w: F.concat(w, F.lit("~"), salt),
            ),
            " ",
        )
        # salt FIRST, shift ids SECOND: aliasing the shifted id as
        # ``doc_id`` in the same select would make Spark's lateral
        # column alias resolution bind the salt to the NEW id —
        # donor and twin would silently get different salts
        prepared = docs.select(
            "doc_id",
            salted_text.alias("text"),
            "lang",
            src,
            F.length(salted_text).cast(
                docs.schema["n_chars"].dataType
            ).alias("n_chars"),
        )
        out_cols = ["text", "lang", "source", "n_chars"]
        salted = prepared.select(
            (F.col("doc_id") + i * stride).alias("doc_id"), *out_cols
        )
        donor = (
            F.pmod(F.xxhash64(F.col("doc_id"), F.lit(1000 + i)), 1_000_000)
            < int(dup_rate * 1_000_000)
        )
        twins = prepared.filter(donor).select(
            (F.col("doc_id") + i * stride + n).alias("doc_id"), *out_cols
        )
        parts.append(salted.unionByName(twins))
    allp = parts[0]
    for q in parts[1:]:
        allp = allp.unionByName(q)
    allp.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).count() if dup_rate is not None else n * mult


def time_text_pipeline(spark, sf_dir: str) -> dict[str, float]:
    import ceres_spark.operators.dedup as dd

    docs = tbl.load(spark, "documents", sf_dir)
    t = {}
    t0 = time.perf_counter()
    dd.jaccard_pairs_vectorized(docs, threshold=0.8).count()
    t["jaccard_blocked"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    rest = docs.filter(F.col("doc_id") % 97 != 0)
    dd.contamination(rest, ev, shingle_k=3).count()
    t["contamination"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    import ceres_spark.operators.text as text

    text.repetition_stats(docs).count()
    t["repetition"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    import ceres_spark.operators.graph as gr

    pairs = dd.jaccard_pairs_vectorized(docs, threshold=0.8).select(
        "doc_a", "doc_b"
    )
    gr.connected_components(pairs, "doc_a", "doc_b").count()
    t["neardup_cc"] = round(time.perf_counter() - t0, 2)
    return t


def synthesize_emb(spark, base_dir: str, mult: int, out: str) -> int:
    """N× embeddings as id-shifted copies (same vectors, bigger
    corpus): ANN search cost must scale with the probed fraction of
    the index, training stays constant (bounded sample)."""
    emb = tbl.load(spark, "embeddings", base_dir)
    n = emb.count()
    parts = []
    for i in range(mult):
        parts.append(
            emb.select(
                (F.col("vec_id") + i * n).alias("vec_id"),
                "label",
                "embedding",
            )
        )
    allp = parts[0]
    for q in parts[1:]:
        allp = allp.unionByName(q)
    allp.write.mode("overwrite").parquet(out)
    return n * mult


def time_new_ops(spark, sf_dir: str) -> dict[str, float]:
    """Round-3 additions: distributed exact ntile (TeraSort shape),
    IVF×PQ build+probe, distributed slice export."""
    import ceres_spark.operators.ivfpq as ivfpq
    import ceres_spark.operators.relational as rel
    import ceres_spark.sources.slice_format as sfmt

    t = {}
    ev = tbl.load(spark, "events", sf_dir)
    t0 = time.perf_counter()
    rel.global_exact_ntile(
        ev, ["value", "event_id"], "event_id", n_buckets=10
    ).count()
    t["global_ntile"] = round(time.perf_counter() - t0, 2)

    emb = tbl.load(spark, "embeddings", sf_dir)
    cents, books = ivfpq.train_ivfpq(emb, k_lists=8, m=8, k_sub=16, iters=1)
    q5 = emb.filter(F.col("vec_id") < 5)
    t0 = time.perf_counter()
    idx = ivfpq.build_ivfpq(emb, cents, books)
    ivfpq.search_ivfpq(
        idx, emb, q5, cents, books, k=10, nprobe=4, refine=50
    ).count()
    t["ivfpq_build_search"] = round(time.perf_counter() - t0, 2)

    pts = cp.compact(tbl.points(spark, sf_dir), 60)
    with tempfile.TemporaryDirectory() as td:
        t0 = time.perf_counter()
        sfmt.export_slice_tree(spark, pts, f"{td}/tree", 60)
        t["slice_export"] = round(time.perf_counter() - t0, 2)
    return t


def time_corpus_ops(spark, sf_dir: str) -> dict[str, float]:
    """Round-3 corpus additions: bigram-LM scoring (linear agg/join),
    BPE training (one corpus pass + bounded-vocab learn), semantic
    dedup (cluster-bounded GEMM), classifier inference (pure scan)."""
    import ceres_spark.operators.bpe as bpe
    import ceres_spark.operators.corpus as corp
    import ceres_spark.operators.semdedup as sdd

    docs = tbl.load(spark, "documents", sf_dir)
    emb = tbl.load(spark, "embeddings", sf_dir)
    t = {}
    t0 = time.perf_counter()
    corp.bigram_lm_score(docs).count()
    t["bigram_lm"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    corp.quality_classifier(docs).count()
    t["quality_classifier"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    bpe.bpe_train(docs, n_merges=8).count()
    t["bpe_train"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    sdd.semantic_dedup(
        emb, tau=0.9, k=16, cache_key=f"{sf_dir}/embeddings"
    ).count()
    t["semantic_dedup"] = round(time.perf_counter() - t0, 2)
    return t


def time_r4_ops(spark, sf_dir: str) -> dict[str, float]:
    """Round-4 additions: Bloom filter-verify decontamination (chained
    broadcast probes), source-vocabulary similarity (vocabulary-sized
    self-join), hard-negative mining (broadcast NLJ + band top-k),
    text normalization (pure scan)."""
    import ceres_spark.operators.corpus as corp
    import ceres_spark.operators.dedup as dd
    import ceres_spark.operators.similarity as sim
    import ceres_spark.operators.text as text

    docs = tbl.load(spark, "documents", sf_dir)
    emb = tbl.load(spark, "embeddings", sf_dir)
    t = {}
    t0 = time.perf_counter()
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    rest = docs.filter(F.col("doc_id") % 97 != 0)
    dd.bloom_decontaminate(rest, ev, shingle_k=3).count()
    t["bloom_decontaminate"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    corp.source_similarity(docs).count()
    t["source_similarity"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    sim.hard_negatives(
        emb.filter(F.col("vec_id") >= 25), emb.filter(F.col("vec_id") < 25)
    ).count()
    t["hard_negatives"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    text.text_normalize(docs).count()
    t["text_normalize"] = round(time.perf_counter() - t0, 2)
    return t


def time_r5_ops(spark, sf_dir: str) -> dict[str, float]:
    """Round-5 probe targets (VERDICT r4 #6): crawl-novelty scoring
    (gram-MIN + join-back, linear), split-leakage QA (simhash bands +
    split join composition), and the catalog-JOIN maintenance pair
    (broadcast catalog dispatch for rollup and expiry)."""
    import ceres_spark.catalog as cat
    import ceres_spark.operators.corpus as corp
    import ceres_spark.operators.dedup as dd
    import ceres_spark.operators.retention as ret

    docs = tbl.load(spark, "documents", sf_dir)
    t = {}
    t0 = time.perf_counter()
    dd.ngram_novelty(docs, k=8).count()
    t["ngram_novelty"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    corp.split_leak_check(docs, max_hamming=3).count()
    t["split_leak_check"] = round(time.perf_counter() - t0, 2)
    pts = tbl.points(spark, sf_dir)
    deduped = cp.compact(pts, 60)
    metrics = [r[0] for r in pts.select("metric").distinct().collect()]
    catalog = cat.make_catalog(
        spark,
        [
            {
                "metric": m,
                "timeStep": 60,
                "aggregationMethod": "average",
                "retentions": [[60, DAY], [3600, 7 * DAY]],
            }
            for m in metrics
        ],
    )
    t0 = time.perf_counter()
    ret.rollup_catalog(deduped, catalog, with_step=True).count()
    t["rollup_catalog"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    ret.expire_catalog(pts, catalog, now=T0 + 29 * DAY).count()
    t["expire_catalog"] = round(time.perf_counter() - t0, 2)
    return t


def time_r5b_ops(spark, sf_dir: str) -> dict[str, float]:
    """Mid-r5 additions: the engine-portable MinHash LSH twin (HOF
    signature projection + Σ bucket² band join), the KMV distinct
    sketch (salted two-phase k-min), and the image near-dup path with
    planted JPEG cross-container twins (Python decode cost must stay
    map-parallel)."""
    import ceres_spark.operators.dedup as dd
    import ceres_spark.operators.multimodal as mm
    import ceres_spark.operators.sketches as sk

    docs = tbl.load(spark, "documents", sf_dir)
    t = {}
    t0 = time.perf_counter()
    dd.minhash_pairs_portable(docs, threshold=0.5).count()
    t["minhash_portable"] = round(time.perf_counter() - t0, 2)
    ev = tbl.load(spark, "events", sf_dir)
    t0 = time.perf_counter()
    sk.kmv_distinct(ev, "event_type", "user_id", k=64).count()
    t["kmv_distinct"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    assets = mm.real_assets_from_documents(docs)
    twins = mm.reencode_images(
        assets.filter(F.col("asset_id") % 24 == 0), quality=95
    )
    mm.phash_pairs(assets.unionByName(twins), max_hamming=6).count()
    t["phash_jpeg_twins"] = round(time.perf_counter() - t0, 2)
    return t


def time_r5c_ops(spark, sf_dir: str) -> dict[str, float]:
    """Late-r5 additions: mergeable-partials incremental rollup (the
    merge must stay cheap vs a full recompute), Z-order key
    projection (pure codegen — should track scan speed), clickstream
    transitions (one user-window + type-pair count), and triangle
    counting (wedge joins grow with near-dup edge count)."""
    import ceres_spark.operators.analytics as ana
    import ceres_spark.operators.dedup as dd
    import ceres_spark.operators.graph as gr
    import ceres_spark.operators.layout as lay
    import ceres_spark.operators.retention as ret

    ev = tbl.load(spark, "events", sf_dir)
    deduped = cp.compact(tbl.points(spark, sf_dir), 60)
    t = {}
    t0 = time.perf_counter()
    even = F.col("ts") % 120 == 0
    ret.rollup_finalize(
        ret.rollup_merge(
            ret.rollup_partials(deduped.filter(even), 3600),
            ret.rollup_partials(deduped.filter(~even), 3600),
        ),
        "average", 60, 3600,
    ).count()
    t["rollup_incremental"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    lay.zorder_points(deduped).count()
    t["zorder_key"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    ana.event_transitions(ev).count()
    t["event_transitions"] = round(time.perf_counter() - t0, 2)
    docs = tbl.load(spark, "documents", sf_dir)
    t0 = time.perf_counter()
    pairs = dd.jaccard_pairs_vectorized(docs, threshold=0.8).select(
        "doc_a", "doc_b"
    )
    gr.triangle_counts(pairs).count()
    t["neardup_triangles"] = round(time.perf_counter() - t0, 2)
    return t


def time_r6_ops(spark, sf_dir: str) -> dict[str, float]:
    """r6 additions: the MP4/MP3 container manifests (map-only
    mapInPandas parses — must track scan speed) and the IVF portable
    twin (lattice assignment + probe + list-restricted re-rank —
    candidate work ∝ corpus/k_lists per query, never corpus²)."""
    from pyspark.sql import functions as FF

    import ceres_spark.operators.ivf as ivf
    import ceres_spark.operators.mp3 as mp3
    import ceres_spark.operators.mp4 as mp4

    docs = tbl.load(spark, "documents", sf_dir)
    t = {}
    t0 = time.perf_counter()
    mp4.video_manifest(mp4.mp4_assets_from_documents(docs)).count()
    t["video_manifest"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    mp3.audio_manifest(mp3.mp3_assets_from_documents(docs)).count()
    t["audio_manifest"] = round(time.perf_counter() - t0, 2)
    emb = tbl.load(spark, "embeddings", sf_dir).select(
        "vec_id", "embedding"
    )
    quant = emb.select(
        "vec_id",
        FF.transform(
            FF.col("embedding"),
            lambda x: FF.floor(x.cast("double") * FF.lit(1000.0)),
        ).alias("qvec"),
    )
    t0 = time.perf_counter()
    cents = [
        [int(v) for v in r["qvec"]]
        for r in quant.orderBy("vec_id").limit(8).collect()
    ]
    idx = ivf.build_index(quant, cents, vec_col="qvec")
    ivf.search(
        idx, quant.filter(FF.col("vec_id") % 50 == 0), cents,
        k=5, nprobe=3, vec_col="qvec",
    ).count()
    t["topk_ivf_lattice"] = round(time.perf_counter() - t0, 2)
    return t


def main() -> None:
    mults = [int(x) for x in sys.argv[1:]] or [1, 4, 16]
    spark = get_spark("scale-probe")
    base = "/root/testdata/sf0.1"
    time_pipeline(spark, base)  # warm up JVM/codegen before timing
    time_text_pipeline(spark, base)  # + python worker pool
    time_new_ops(spark, base)
    time_corpus_ops(spark, base)
    time_r4_ops(spark, base)
    time_r5_ops(spark, base)
    time_r5b_ops(spark, base)
    time_r6_ops(spark, base)
    results = {}
    for m in mults:
        with tempfile.TemporaryDirectory() as td:
            out = f"{td}/events.parquet"
            rows = synthesize(spark, base, m, out)
            # the probe dir mimics an sf dir (only events is read)
            import os, shutil

            for name in tbl.TABLES:
                src = f"{base}/{name}.parquet"
                dst = f"{td}/{name}.parquet"
                if name != "events" and not os.path.exists(dst):
                    os.symlink(src, dst)
            docs_out = f"{td}/documents.parquet"
            os.unlink(docs_out)  # replace the symlink with N× data
            dup_rate = os.environ.get("DUP_RATE")  # see synthesize_docs
            synthesize_docs(
                spark, base, m, docs_out,
                dup_rate=float(dup_rate) if dup_rate else None,
            )
            emb_out = f"{td}/embeddings.parquet"
            os.unlink(emb_out)
            synthesize_emb(spark, base, m, emb_out)
            timings = time_pipeline(spark, td)
            timings.update(time_text_pipeline(spark, td))
            timings.update(time_new_ops(spark, td))
            timings.update(time_corpus_ops(spark, td))
            timings.update(time_r4_ops(spark, td))
            timings.update(time_r5_ops(spark, td))
            timings.update(time_r5b_ops(spark, td))
            timings.update(time_r6_ops(spark, td))
            results[f"x{m}"] = {"rows": rows, **timings}
            print(json.dumps({f"x{m}": results[f"x{m}"]}))
    # per-row scaling summary
    base_t = results[f"x{mults[0]}"]
    for m in mults[1:]:
        r = results[f"x{m}"]
        ratios = {
            k: round(r[k] / max(base_t[k], 1e-9), 1)
            for k in r
            if k != "rows"
        }
        print(
            json.dumps(
                {
                    "scale": f"x{m} vs x{mults[0]}",
                    "data_ratio": m,
                    "time_ratios": ratios,
                }
            )
        )


if __name__ == "__main__":
    main()
