"""CLI tools — parity with the reference's ``bin/`` scripts (op #9)
and the maintenance driver (op #23).

Reference commands → subcommands here:
  ceres-tree-create  → tree-create ROOT [--prop k=v ...]
  ceres-node-create  → node-create ROOT NODE [--step N] [--agg METHOD]
  ceres-node-write   → node-write ROOT NODE ts:value [ts:value ...]
  ceres-node-read    → node-read ROOT NODE FROM UNTIL
  ceres-node-find    → find ROOT PATTERN [--from T] [--until T]
  ceres-maintenance  → maintenance ROOT --plugin {rollup,defrag}
                       (bin/ceres-maintenance walks the tree and
                        dispatches plugin node_found hooks; here each
                        plugin is a batch job over the whole table —
                        the per-node loop is the part Spark replaces)

Usage: ``python -m ceres_spark.cli <subcommand> ...``
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F


def _spark():
    from ceres_spark.session import get_spark

    return get_spark("ceres-spark-cli")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="ceres-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    t = sub.add_parser("tree-create")
    t.add_argument("root")
    t.add_argument("--prop", action="append", default=[])

    n = sub.add_parser("node-create")
    n.add_argument("root")
    n.add_argument("node")
    n.add_argument("--step", type=int, default=60)
    n.add_argument("--agg", default="average")

    w = sub.add_parser("node-write")
    w.add_argument("root")
    w.add_argument("node")
    w.add_argument("datapoints", nargs="+", help="ts:value ...")

    r = sub.add_parser("node-read")
    r.add_argument("root")
    r.add_argument("node")
    r.add_argument("from_time", type=int)
    r.add_argument("until_time", type=int)

    f = sub.add_parser("find")
    f.add_argument("root")
    f.add_argument("pattern")
    f.add_argument("--from", dest="from_time", type=int, default=None)
    f.add_argument("--until", dest="until_time", type=int, default=None)

    s = sub.add_parser("slicecheck")
    s.add_argument("root")
    s.add_argument("--step", type=int, default=60)
    s.add_argument(
        "--legacy", action="store_true",
        help="check reference-format .slice files instead of parquet",
    )

    m = sub.add_parser("maintenance")
    m.add_argument("root")
    m.add_argument(
        "--plugin",
        choices=("rollup", "rollup-catalog", "defrag"),
        required=True,
    )
    m.add_argument("--new-step", type=int, default=300)
    m.add_argument("--method", default="average")
    m.add_argument("--xff", type=float, default=0.0)
    m.add_argument(
        "--src-step", type=int, default=None,
        help="raw archive step being read (default: the tree's "
        "DEFAULT_TIMESTEP) — the guard and the read path share this "
        "value, so they cannot diverge",
    )

    mi = sub.add_parser(
        "migrate-in",
        help="legacy .slice tree → date-partitioned parquet points "
        "(distributed binaryFile decode)",
    )
    mi.add_argument("slice_root")
    mi.add_argument("points_path")

    mo = sub.add_parser(
        "migrate-out",
        help="parquet points → reference-format .slice tree "
        "(distributed applyInPandas export, one task per node)",
    )
    mo.add_argument("points_path")
    mo.add_argument("slice_root")
    mo.add_argument("--step", type=int, default=60)

    c = sub.add_parser(
        "corpus",
        help="run one corpus-pipeline stage over a documents parquet "
        "and write the result as parquet (the batch-job surface of "
        "the training-data operators)",
    )
    c.add_argument(
        "stage",
        choices=[
            "gate", "classify", "budget-fill", "bigram-lm",
            "hash-embed", "drift",
        ],
    )
    c.add_argument("docs_path")
    c.add_argument("out_path")
    c.add_argument("--budget", type=int, default=100_000)

    rn = sub.add_parser(
        "render",
        help="evaluate a graphite render target against the tree — "
        "the query front door: nested function-call strings over "
        "metric globs (plans/render.py), e.g. "
        "'aliasByNode(sumSeries(web.*.cpu),1)'",
    )
    rn.add_argument("root")
    rn.add_argument("target")
    rn.add_argument(
        "--from", dest="from_time", default=None,
        help="epoch seconds or a graphite at-time string "
        "('now-1d', '12:00_20240101')",
    )
    rn.add_argument("--until", dest="until_time", default=None)
    rn.add_argument("--step", type=int, default=60)
    rn.add_argument(
        "--max-data-points", type=int, default=None,
        help="consolidateBy() re-buckets past this count "
        "(graphite's maxDataPoints render dial)",
    )
    rn.add_argument(
        "--max-rows", type=int, default=200,
        help="print at most this many rows (the plan itself is "
        "unbounded — this caps only the driver-side collect)",
    )

    e = sub.add_parser(
        "explain",
        help="print the physical plan of a registry query "
        "(EXPLAIN surface; list names with 'explain --list')",
    )
    e.add_argument("query", nargs="?")
    e.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    e.add_argument("--list", action="store_true")

    args = p.parse_args(argv)
    from ceres_spark.tree import CeresTree

    spark = _spark()

    if args.cmd == "tree-create":
        props = dict(kv.split("=", 1) for kv in args.prop)
        CeresTree.create_tree(spark, args.root, **props)
        print(f"created tree at {args.root}")
    elif args.cmd == "node-create":
        tree = CeresTree(spark, args.root)
        tree.create_node(args.node, timeStep=args.step, aggregationMethod=args.agg)
        print(f"created node {args.node}")
    elif args.cmd == "node-write":
        tree = CeresTree(spark, args.root)
        rows = []
        for dp in args.datapoints:  # bin/ceres-node-write's ts:value syntax
            ts, _, val = dp.partition(":")
            rows.append((int(ts), float(val)))
        tree.store(
            args.node,
            spark.createDataFrame(rows, "ts long, value double"),
        )
        print(f"wrote {len(rows)} datapoints to {args.node}")
    elif args.cmd == "node-read":
        tree = CeresTree(spark, args.root)
        df = tree.fetch(args.node, args.from_time, args.until_time)
        for row in df.orderBy("ts").collect():
            v = "None" if row["value"] is None else repr(row["value"])
            print(f"{row['ts']}\t{v}")
    elif args.cmd == "find":
        tree = CeresTree(spark, args.root)
        for node in tree.find(args.pattern, args.from_time, args.until_time):
            print(node.node_path)
    elif args.cmd == "slicecheck":
        if args.legacy:
            from ceres_spark.sources.slice_format import slicecheck

            problems = slicecheck(args.root)
            for pr in problems:
                print(f"{pr['file']}: {pr['problem']}")
            print(f"{len(problems)} problem(s)")
            return 1 if problems else 0
        tree = CeresTree(spark, args.root)
        row = tree.check(args.step).collect()[0]
        print(
            f"rows={row['n_rows']} misaligned={row['n_misaligned']} "
            f"nan={row['n_nan']} dups={row['n_dups']}"
        )
        bad = row["n_misaligned"] + row["n_nan"] + row["n_dups"]
        return 1 if bad else 0
    elif args.cmd == "maintenance":
        tree = CeresTree(spark, args.root)
        if args.plugin == "rollup":
            import ceres_spark.operators.compact as cp
            import ceres_spark.operators.retention as ret

            fine = cp.lww_dedup(tree.points())
            coarse = cp.stamp(
                ret.rollup(
                    fine, args.method, 60, args.new_step,
                    x_files_factor=args.xff,
                ),
                0,
            )
            coarse.write.mode("overwrite").partitionBy("date").parquet(
                tree.points_path(args.new_step)
            )
            print(f"rolled up to step={args.new_step}")
        elif args.plugin == "rollup-catalog":
            # catalog-driven dispatch: each node rolled to ITS OWN
            # retention step with ITS OWN method, ONE grouped job for
            # the whole tree (no per-node driver loop, no CASE chain).
            # The result is MIXED-resolution, so each bucket must land
            # in the archive directory of its own step — the tree's
            # points/step=N layout IS a partition column, so one
            # step-partitioned dynamic-overwrite write routes every
            # node correctly (a single-step write would corrupt the
            # uniform-step invariant of points_path(new_step)).
            import os

            import ceres_spark.operators.compact as cp
            import ceres_spark.operators.retention as ret
            from ceres_spark.tree import DEFAULT_TIMESTEP

            src_step = (
                args.src_step if args.src_step is not None
                else DEFAULT_TIMESTEP
            )
            out = cp.stamp(
                tree.maintenance_run(
                    lambda catalog, points: ret.rollup_catalog(
                        cp.lww_dedup(points),
                        catalog,
                        default_step=args.new_step,
                        default_method=args.method,
                        with_step=True,
                    ),
                    step=src_step,
                ),
                0,
            )
            # the step guard reads the TINY catalog cfg side (the same
            # per-node step rule rollup_catalog applies), not the full
            # rollup result — collecting out.distinct() would run the
            # whole job twice and could go stale between guard and write
            steps = [
                r["_step"]
                for r in tree.catalog().select(
                    ret.node_step(args.new_step).alias("_step")
                ).distinct().collect()
            ] + [int(args.new_step)]
            if src_step in steps:
                raise SystemExit(
                    f"rollup-catalog refuses to write into the source "
                    f"step={src_step} archive (a node's retention step "
                    "equals the raw step; fix the catalog retentions)"
                )
            out.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("step", "date").parquet(
                os.path.join(tree.root, "points")
            )
            print(
                f"catalog rollup complete (steps={sorted(set(steps))}, "
                f"default step={args.new_step})"
            )
        else:
            import ceres_spark.operators.retention as ret

            ret.compact_files(spark, tree.points_path(60))
            print("defragmented step=60")
    elif args.cmd == "migrate-in":
        from ceres_spark.sources.slice_format import migrate_tree

        migrate_tree(spark, args.slice_root, args.points_path)
        n = spark.read.parquet(args.points_path).count()
        print(f"migrated {args.slice_root} -> {args.points_path} ({n} points)")
    elif args.cmd == "migrate-out":
        import ceres_spark.operators.compact as cp
        from ceres_spark.sources.slice_format import export_slice_tree

        pts = cp.lww_dedup(
            cp.quantize(
                spark.read.parquet(args.points_path).filter(
                    F.col("value").isNotNull()
                ),
                args.step,
            )
        )
        n = export_slice_tree(spark, pts, args.slice_root, args.step)
        print(f"exported {n} slice file(s) to {args.slice_root}")
    elif args.cmd == "corpus":
        import ceres_spark.operators.corpus as corp

        docs = spark.read.parquet(args.docs_path)
        if args.stage == "gate":
            out = corp.corpus_filter_gate(docs)
        elif args.stage == "classify":
            out = corp.quality_classifier(docs)
        elif args.stage == "budget-fill":
            out = corp.token_budget_fill(
                docs, budget_per_source=args.budget
            )
        elif args.stage == "bigram-lm":
            out = corp.bigram_lm_score(docs)
        elif args.stage == "hash-embed":
            out = corp.hash_embed(docs)
        else:  # drift: doc_id-parity halves as the snapshot split
            out = corp.vocab_drift(
                docs.filter(F.col("doc_id") % 2 == 0),
                docs.filter(F.col("doc_id") % 2 == 1),
            )
        out.write.mode("overwrite").parquet(args.out_path)
        n = spark.read.parquet(args.out_path).count()
        print(f"{args.stage}: wrote {n} rows to {args.out_path}")
    elif args.cmd == "render":
        # graphite-web's evaluateTarget surface over a ceres tree:
        # LWW-deduped points at the requested step are the store the
        # target's path leaves resolve against
        import ceres_spark.operators.compact as cp
        from ceres_spark.plans.render import render as render_target

        tree = CeresTree(spark, args.root)
        series = cp.lww_dedup(tree.points(args.step)).select(
            "metric", "ts", "value"
        )
        df = render_target(
            spark,
            args.target,
            args.from_time,
            args.until_time,
            series=series,
            step=args.step,
            max_data_points=args.max_data_points,
        )
        for r in df.orderBy("metric", "ts").limit(args.max_rows).collect():
            v = "None" if r["value"] is None else repr(r["value"])
            print(f"{r['metric']}\t{r['ts']}\t{v}")
    elif args.cmd == "explain":
        # EXPLAIN surface over the whole query registry — the ceres
        # CLI never had one because it had no planner; this one is how
        # a user audits pushdown/broadcast/shuffle before a 100 TB run
        import __spark_entry__ as entrymod

        qs = entrymod.queries()
        if args.list or not args.query:
            for name in qs:
                print(name)
            return 0
        if args.query not in qs:
            print(f"unknown query {args.query!r} (try: explain --list)")
            return 1
        qs[args.query](spark, args.sf_dir).explain("formatted")
    return 0


if __name__ == "__main__":
    sys.exit(main())
