"""spark-submit entry point: the whole GeoParser dataflow as one job.

    spark-submit --py-files geoparser_spark.zip job.py run \
        --input <docs parquet/iceberg dir> --gazetteer <allCountries.tsv> \
        --output <dir> [--resume] [--tiles]

Replaces the reference's multi-service bootstrap (Solr + Tika + Django
+ gazetteer server on fixed ports, Docker/entrypoint-geoparser.sh:16-19)
with a single Spark application (SURVEY.md §2.4 R5).
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import sys
import time

from geoparser_spark.operators.extract import extract_with_skew_split
from geoparser_spark.operators.geotag import geotag, points
from geoparser_spark.operators.tiles import build_tile_pyramid, write_tiles
from geoparser_spark.plans.runtime import resumable_stage
from geoparser_spark.session import get_spark
from geoparser_spark.sources.geonames import read_geonames_tsv


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    sub = p.add_subparsers(dest="cmd", required=True)
    run = sub.add_parser("run")
    run.add_argument("--input", required=True)
    run.add_argument("--gazetteer", required=True)
    run.add_argument("--output", required=True)
    run.add_argument("--run-id", default=f"run-{os.getpid()}")
    run.add_argument("--partitions", type=int, default=None)
    run.add_argument("--n-logical-parts", type=int, default=256)
    run.add_argument("--tiles", action="store_true")
    run.add_argument(
        "--surface-broadcast", default="auto",
        choices=("auto", "always", "never"),
        help="tag-join strategy for the gazetteer surface table: "
             "'always' broadcasts, 'never' takes the shuffled "
             "first-token equi-join, 'auto' (default) counts surfaces "
             "against geotag.BROADCAST_SURFACE_ROW_BUDGET — the real "
             "12M-place GeoNames lands on the shuffled path "
             "(BENCH/GAZETTEER_SCALE.md)")
    run.add_argument(
        "--redistribute", choices=("mega-only", "all"), default="mega-only",
        help="'mega-only' (default) shuffles only mega-doc chunks; "
             "'all' restores the full-corpus salted repartition for "
             "sources whose own partitioning cannot provide parallelism")
    cur = sub.add_parser(
        "curate",
        help="LLM-training-data curation pass: [unicode-norm ->] exact "
             "dedup (hashed) -> [MinHash-LSH near-dup clustering ->] "
             "quality [+ compression-ratio] filter -> PII scrub -> "
             "deterministic train/val/test split, written partitioned "
             "by split")
    cur.add_argument("--input", required=True)
    cur.add_argument("--output", required=True)
    cur.add_argument("--min-quality", type=int, default=3)
    cur.add_argument("--split-weights", default="8,1,1")
    cur.add_argument("--unicode-norm", action="store_true",
                     help="NFKC + control scrub before any hashing")
    cur.add_argument("--near-dup", action="store_true",
                     help="MinHash-LSH pairs -> connected components; "
                          "keep each cluster's min doc_id")
    cur.add_argument("--near-dup-threshold", type=float, default=0.7)
    cur.add_argument("--min-compression-ratio", type=float, default=None,
                     help="drop docs whose zlib ratio is below this "
                          "(machine-repetitive boilerplate)")
    cur.add_argument("--mix-temperature", type=float, default=None,
                     help="temperature-mix sources before the split "
                          "(rates derived from the source histogram)")
    cur.add_argument("--mix-target-frac", type=float, default=1.0)
    comp = sub.add_parser(
        "compact",
        help="rewrite a small-file parquet dir into ~target-sized files "
             "(plans/filesizing.py; on Iceberg use rewrite_data_files)")
    comp.add_argument("--src", required=True)
    comp.add_argument("--dst", required=True)
    comp.add_argument("--target-file-mb", type=int, default=256)
    comp.add_argument("--range-key", default=None)
    snap = sub.add_parser(
        "snapshot",
        help="versioned-table operations (plans/snapshots.py): create/"
             "append/append-dedup/merge a snapshot table, read a pinned "
             "version, or print history")
    snap.add_argument("--root", required=True)
    snap.add_argument("--op", required=True, choices=(
        "create", "append", "append-dedup", "merge", "read", "history",
        "expire", "diff"))
    snap.add_argument("--keep-from", type=int, default=None,
                      help="oldest version to retain (expire)")
    snap.add_argument("--from-version", type=int, default=None,
                      help="older version for diff")
    snap.add_argument("--to-version", type=int, default=None,
                      help="newer version for diff (default: latest)")
    snap.add_argument("--input", default=None, help="parquet dir for write ops")
    snap.add_argument("--key", default="doc_id")
    snap.add_argument("--hash-cols", default="doc_id,text",
                      help="content-hash columns for append-dedup")
    snap.add_argument("--version", type=int, default=None,
                      help="pinned version for read (default: latest)")
    snap.add_argument("--output", default=None, help="output dir for read")
    rank = sub.add_parser(
        "rank",
        help="host-level PageRank over a (src, dst) link-edge parquet "
             "(operators/pagerank.py): integer-exact ranks, written as "
             "(host, rank) parquet")
    rank.add_argument("--edges", required=True)
    rank.add_argument("--output", required=True)
    rank.add_argument("--iterations", type=int, default=10)
    rank.add_argument("--src-col", default="src")
    rank.add_argument("--dst-col", default="dst")
    args = p.parse_args(argv)

    if args.cmd == "rank":
        from geoparser_spark.operators.pagerank import pagerank

        spark = get_spark(app_name="geoparser-rank")
        t0 = time.monotonic()
        edges = spark.read.parquet(args.edges)
        ranks = pagerank(edges, iterations=args.iterations,
                         src_col=args.src_col, dst_col=args.dst_col)
        ranks.write.mode("overwrite").parquet(args.output)
        print(json.dumps({
            "hosts": spark.read.parquet(args.output).count(),
            "iterations": args.iterations,
            "wall_sec": round(time.monotonic() - t0, 2)}))
        spark.stop()
        return 0

    if args.cmd == "curate":
        from pyspark.sql import functions as F

        from geoparser_spark.operators.dedup import exact_dedup_hashed
        from geoparser_spark.operators.pii import pii_scrub
        from geoparser_spark.operators.sampling import hash_split
        from geoparser_spark.operators.text_quality import quality_score

        spark = get_spark(app_name="geoparser-curate")
        t0 = time.monotonic()
        docs = spark.read.parquet(args.input)
        n_in = docs.count()
        if args.unicode_norm:
            from geoparser_spark.operators.text_quality import (
                unicode_normalize,
            )

            cleaned = unicode_normalize(docs).select(
                "doc_id", F.col("clean_text").alias("text"))
            docs = docs.drop("text").join(cleaned, "doc_id")
        # exact dedup on md5 digests: keep each group's min doc_id —
        # a broadcast-free semi-join shape (keepers joined back on id)
        keepers = exact_dedup_hashed(docs).select(
            F.col("keeper_id").alias("doc_id"))
        # persisted: deduped feeds BOTH the score branch and the keep
        # join — without it the md5 groupBy + semi-join executes twice
        # (Spark does not dedupe common subplans).  At full scale the
        # equivalent is writing the dedup stage to a table
        # (plans/runtime.resumable_stage), which curate callers with
        # 100 TB inputs should do per stage.
        deduped = docs.join(keepers, "doc_id", "left_semi").persist()
        if args.near_dup:
            from geoparser_spark.operators.components import (
                canonical_docs,
                connected_components,
            )
            from geoparser_spark.operators.dedup import minhash_lsh_pairs

            pairs = minhash_lsh_pairs(
                deduped, threshold=args.near_dup_threshold)
            comp = connected_components(pairs)
            exact_stage = deduped
            # raw crawls have high near-dup rates: the component map
            # joins shuffled, never broadcast
            deduped = canonical_docs(
                deduped, comp, broadcast_map=False).persist()
            deduped.count()          # materialize off the old cache,
            exact_stage.unpersist()  # then release it — two full-corpus
            # caches must not stay pinned through scoring/scrub/write
        q = quality_score(deduped).where(
            F.col("quality_score") >= args.min_quality).select("doc_id")
        kept = deduped.join(q, "doc_id", "left_semi")
        if args.min_compression_ratio is not None:
            from geoparser_spark.operators.text_quality import (
                compression_signal,
            )

            ok = compression_signal(kept).where(
                F.col("compression_ratio") >= args.min_compression_ratio
            ).select("doc_id")
            kept = kept.join(ok, "doc_id", "left_semi")
        scrubbed = pii_scrub(kept).drop("text").withColumnRenamed(
            "redacted", "text")
        if args.mix_temperature is not None:
            from geoparser_spark.operators.sampling import temperature_mix

            if "source" not in scrubbed.columns:
                p.error("--mix-temperature needs a 'source' column "
                        "(an explicitly requested stage must never "
                        "silently no-op)")
            # persisted: temperature_mix's histogram collect() would
            # otherwise re-execute the whole curate DAG (dedup joins,
            # quality filters, scrub regexes) a second time
            scrubbed = scrubbed.persist()
            scrubbed = temperature_mix(
                scrubbed, args.mix_temperature, args.mix_target_frac)
        weights = tuple(int(w) for w in args.split_weights.split(","))
        out = hash_split(scrubbed, "doc_id", weights=weights,
                         labels=("train", "val", "test")[:len(weights)])
        out.write.mode("overwrite").partitionBy("split").parquet(args.output)
        n_out = spark.read.parquet(args.output).count()
        print(json.dumps({
            "docs_in": n_in, "docs_out": n_out,
            "wall_sec": round(time.monotonic() - t0, 2)}))
        spark.stop()
        return 0

    if args.cmd == "snapshot":
        from geoparser_spark.plans import snapshots as SN

        spark = get_spark(app_name="geoparser-snapshot")
        if args.op == "history":
            print(json.dumps(SN.history(args.root)))
        elif args.op == "expire":
            if args.keep_from is None:
                p.error("--keep-from required for expire")
            print(json.dumps(SN.expire_versions(args.root, args.keep_from)))
        elif args.op == "diff":
            if args.from_version is None:
                p.error("--from-version required for diff")
            if not args.output:
                p.error("--output required for diff")
            v_to = args.to_version or SN.latest_version(args.root)
            d = SN.snapshot_diff(spark, args.root, args.from_version, v_to)
            d.write.mode("overwrite").parquet(args.output)
            from pyspark.sql import functions as F

            counts = {r["change_type"]: r["n"] for r in
                      spark.read.parquet(args.output)
                      .groupBy("change_type")
                      .agg(F.count(F.lit(1)).alias("n")).collect()}
            print(json.dumps({"from": args.from_version, "to": v_to,
                              "changes": counts}))
        elif args.op == "read":
            if not args.output:
                p.error("--output required for read")
            df = SN.read_snapshot(spark, args.root, version=args.version)
            df.write.mode("overwrite").parquet(args.output)
            print(json.dumps({
                "version": args.version or SN.latest_version(args.root),
                "rows": spark.read.parquet(args.output).count()}))
        else:
            if not args.input:
                p.error(f"--input required for {args.op}")
            df = spark.read.parquet(args.input)
            if args.op == "create":
                v = SN.create_table(df, args.root, key=args.key)
                print(json.dumps({"version": v}))
            elif args.op == "append":
                print(json.dumps({"version": SN.append(df, args.root)}))
            elif args.op == "append-dedup":
                print(json.dumps(SN.append_dedup(
                    spark, df, args.root,
                    hash_cols=args.hash_cols.split(","))))
            else:
                print(json.dumps(SN.merge_upsert(spark, df, args.root)))
        spark.stop()
        return 0

    if args.cmd == "compact":
        from geoparser_spark.plans.filesizing import compact_parquet

        spark = get_spark(app_name="geoparser-compact")
        stats = compact_parquet(
            spark, args.src, args.dst,
            target_file_bytes=args.target_file_mb * 1024 * 1024,
            range_key=args.range_key,
        )
        print(json.dumps(stats))
        spark.stop()
        return 0

    spark = get_spark(app_name="geoparser-job")
    t0 = time.monotonic()

    docs = spark.read.parquet(args.input)
    n_part = args.partitions or spark.sparkContext.defaultParallelism * 4

    extracted = resumable_stage(
        spark, docs,
        lambda df: extract_with_skew_split(df, n_part,
                                           redistribute=args.redistribute),
        output_dir=os.path.join(args.output, "extracted"),
        manifest_dir=os.path.join(args.output, "manifest"),
        run_id=args.run_id, n_parts=args.n_logical_parts,
    )

    gaz = read_geonames_tsv(spark, args.gazetteer)
    bc = {"always": True, "never": False}.get(
        getattr(args, "surface_broadcast", "auto"), "auto")
    tagged = geotag(extracted, gaz, broadcast_surfaces=bc)
    tagged.write.mode("overwrite").parquet(os.path.join(args.output, "geotagged"))

    pts = points(spark.read.parquet(os.path.join(args.output, "geotagged")))
    if args.tiles:
        tiles, extents = build_tile_pyramid(
            pts.select("latitude", "longitude", pts["loc_name"].alias("info"))
        )
        write_tiles(tiles, os.path.join(args.output, "tiles"))
        extents.write.mode("overwrite").parquet(os.path.join(args.output, "extents"))

    n_docs = spark.read.parquet(os.path.join(args.output, "extracted")).count()
    wall = time.monotonic() - t0
    print(json.dumps({"docs": n_docs, "wall_sec": round(wall, 2),
                      "docs_per_sec": round(n_docs / wall, 2)}))
    spark.stop()
    return 0


if __name__ == "__main__":
    # the engine's runtime decisions (resume done/todo counts, tag-join
    # plan, redistribute fallback) go to stderr; stdout keeps the JSON
    logging.basicConfig(format="%(asctime)s %(levelname)s %(name)s: %(message)s")
    logging.getLogger("geoparser_spark").setLevel(logging.INFO)
    sys.exit(main())
