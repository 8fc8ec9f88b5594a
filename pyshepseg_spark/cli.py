"""Command-line entry points (parity with the reference's cmdline/
surface: run_seg, subset, runtests — /root/reference/pyshepseg/
cmdline/*). Spark-native: every command builds a session and runs
the DataFrame pipeline.

Usage:
  python -m pyshepseg_spark.cli segment --images in.parquet \
      --out seg_tiles.parquet [--tilesize 256 --overlap 64 ...]
  python -m pyshepseg_spark.cli stats --final final.parquet \
      --out stats.parquet --percentiles 25,50,75
  python -m pyshepseg_spark.cli subset --final final.parquet \
      --bbox x0,y0,w,h --out subset.parquet
  python -m pyshepseg_spark.cli gen --n 64 --size 512 --out imgs.parquet
"""

from __future__ import annotations

import argparse


def _session(args):
    from .session import get_spark
    return get_spark(master=args.master,
                     shuffle_partitions=args.shuffle_partitions)


def _add_common(p):
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)


def _seg_config(args):
    """The SegConfig of the segment and pipeline commands."""
    from .operators.segment import SegConfig
    return SegConfig(img_null_val=args.null_val,
                     four_connected=args.four_connected,
                     min_segment_size=args.min_segment_size,
                     num_clusters=args.num_clusters,
                     tile_size=args.tilesize, overlap=args.overlap)


def cmd_gen(args):
    spark = _session(args)
    from .sources.imagegen import images_spark_df
    images_spark_df(spark, args.n, size=args.size, seed=args.seed) \
        .write.mode("overwrite").parquet(args.out)
    print(f"wrote {args.n} images to {args.out}")


def cmd_segment(args):
    spark = _session(args)
    from .operators.segment import (fit_global_centres,
                                    segment_images_tiled)
    cfg = _seg_config(args)
    images = spark.read.parquet(args.images)
    # --global-centres = the reference's own prepare protocol (one
    # k-means over a global subsample, tiling.py:196-224) and the
    # giant-single-raster mode: tile rows spread across the cluster
    # instead of running inside each image's decode task
    centres = (fit_global_centres(images, cfg)
               if args.global_centres else None)
    final, seg_tiles, _ = segment_images_tiled(
        images, cfg, centres=centres,
        keep_pixels=not args.no_pixels)
    final.write.mode("overwrite").parquet(args.out)
    print(f"wrote stitched tiles to {args.out}")


def cmd_pipeline(args):
    """images parquet -> per-segment stats parquet in one go (the
    stats-only consumption path: kernel-emitted histograms remapped,
    merged and finalized inside the sequential stitch task — one
    exchange, pixels cross Arrow once, mosaic never
    materialized)."""
    spark = _session(args)
    from .operators.zonal import segment_stats_tiled
    cfg = _seg_config(args)
    images = spark.read.parquet(args.images)
    pcts = tuple(int(p) for p in args.percentiles.split(","))
    centres = None
    if args.global_centres:
        from .operators.segment import fit_global_centres
        centres = fit_global_centres(images, cfg)
    segment_stats_tiled(images, cfg, percentiles=pcts,
                        with_nodata=args.with_nodata,
                        centres=centres) \
        .write.mode("overwrite").parquet(args.out)
    print(f"wrote per-segment stats to {args.out}")


def cmd_stats(args):
    spark = _session(args)
    from pyspark.sql import functions as F

    from .operators.zonal import (segment_nodata_counts, segment_stats,
                                  tile_value_histogram)
    if args.with_nodata and args.null_val is None:
        raise SystemExit("--with-nodata requires --null-val: nodata "
                         "counting is undefined without a null value")
    final = spark.read.parquet(args.final)
    pcts = tuple(int(p) for p in args.percentiles.split(","))
    if args.with_nodata:
        # A4: full histogram once, stats from the filtered bins,
        # nodata/valid counts joined on (all-nodata segments kept);
        # localCheckpoint (not persist) so nothing stays cached after
        # the write
        hist_all = tile_value_histogram(
            final, img_null_val=None).localCheckpoint()
        stats = segment_stats(
            hist_all.filter(F.col("val") != args.null_val),
            percentiles=pcts)
        nd = segment_nodata_counts(hist_all, args.null_val)
        out = nd.join(stats, ["image_id", "seg_id", "band"], "left")
    else:
        hist = tile_value_histogram(final, img_null_val=args.null_val)
        out = segment_stats(hist, percentiles=pcts)
    out.write.mode("overwrite").parquet(args.out)
    print(f"wrote per-segment stats to {args.out}")


def cmd_overviews(args):
    spark = _session(args)
    from .operators.tiling import overview_pyramid_tiles
    final = spark.read.parquet(args.final)
    out = overview_pyramid_tiles(final,
                                 final_out_size=args.final_out_size)
    out.write.mode("overwrite").parquet(args.out)
    print(f"wrote overview pyramid to {args.out}")


def cmd_subset(args):
    spark = _session(args)
    from .operators.subset import subset_segmentation
    final = spark.read.parquet(args.final)
    x0, y0, w, h = (int(v) for v in args.bbox.split(","))
    pieces, mapping = subset_segmentation(final, x0, y0, w, h)
    pieces.write.mode("overwrite").parquet(args.out)
    mapping.write.mode("overwrite").parquet(args.out + ".mapping")
    print(f"wrote subset to {args.out} (+ .mapping)")


def cmd_curate(args):
    """documents parquet -> curated corpus + audit table: the
    composed training-data hygiene chain (PII scrub -> Gopher
    quality gate -> optional benchmark decontamination -> exact
    dedup -> MinHash-LSH near-dedup with exact Jaccard verify).
    Every document lands in the audit output with
    its keep decision and the full reason list; only kept docs land
    in --out. Deterministic: dedup keeps the smallest doc_id of each
    duplicate group."""
    spark = _session(args)
    from pyspark.sql import functions as F

    from .operators.dedup import (duplicate_groups, exact_duplicates,
                                  minhash_lsh_pairs,
                                  minhash_signatures_md5,
                                  ngram_jaccard_pairs)
    from .operators.text import gopher_quality_filter, pii_redact

    docs = spark.read.parquet(args.docs)
    tc = "text"
    if args.pii:
        docs = pii_redact(docs, text_col="text",
                          out_col="redacted_text")
        tc = "redacted_text"

    gate = gopher_quality_filter(docs, text_col=tc) \
        .select("doc_id", "drop_reasons", "keep") \
        .localCheckpoint(eager=False)   # fans into audit + dedup
    kept = docs.join(gate.filter("keep").select("doc_id"), "doc_id")

    # benchmark decontamination BEFORE dedup, so a contaminated doc
    # never becomes the kept representative of a duplicate group
    # (dropping it later would lose the group's content entirely)
    if args.benchmark:
        from .operators.dedup import contamination_flags
        bench = spark.read.parquet(args.benchmark)
        contam_losers = (contamination_flags(
            kept, bench, text_col=tc, n=args.contamination_ngram)
            .filter("contaminated")
            .select("doc_id", F.lit("contaminated").alias("extra")))
        kept = kept.join(contam_losers.select("doc_id"), "doc_id",
                         "left_anti")
    else:
        contam_losers = None

    # exact dedup: keep the smallest doc_id of each content group
    exact_losers = exact_duplicates(kept, text_col=tc).select(
        F.explode(F.expr(
            "slice(doc_ids, 2, size(doc_ids) - 1)")).alias("doc_id"),
        F.lit("exact_duplicate").alias("extra"))

    # near dedup on the exact-deduped survivors: LSH candidates ->
    # exact n-gram Jaccard verify -> connected groups -> keep reps
    survivors = kept.join(exact_losers.select("doc_id"), "doc_id",
                          "left_anti")
    sigs = minhash_signatures_md5(survivors, text_col=tc,
                                  num_hashes=32, k=args.shingle_k)
    cand = minhash_lsh_pairs(sigs, num_hashes=32, bands=8)
    pairs = ngram_jaccard_pairs(survivors, cand, text_col=tc,
                                k=args.shingle_k,
                                threshold=args.jaccard)
    near_losers = (duplicate_groups(pairs)
                   .filter(F.col("doc_id") != F.col("group_rep"))
                   .select("doc_id",
                           F.lit("near_duplicate").alias("extra")))

    losers = exact_losers.unionByName(near_losers)
    if contam_losers is not None:
        losers = losers.unionByName(contam_losers)
    audit = (gate.join(losers, "doc_id", "left")
             .select("doc_id",
                     F.when(F.col("extra").isNotNull(),
                            F.array_union("drop_reasons",
                                          F.array("extra")))
                     .otherwise(F.col("drop_reasons"))
                     .alias("drop_reasons"))
             .withColumn("keep", F.size("drop_reasons") == 0))
    # barrier: the audit frame feeds BOTH writes (audit + corpus
    # semi-join); without it the whole dedup chain runs twice
    audit = audit.localCheckpoint(eager=False)
    corpus = docs.join(audit.filter("keep").select("doc_id"),
                       "doc_id")
    if args.token_budget is not None:
        # final mixing step: keep the best-quality subset that fits
        # the token budget (deterministic two-phase selection)
        from .operators.text import (quality_score,
                                     select_token_budget,
                                     token_counts)
        scored = token_counts(quality_score(corpus, text_col=tc),
                              text_col=tc)
        corpus = select_token_budget(scored, args.token_budget) \
            .select(*corpus.columns) \
            .localCheckpoint(eager=False)  # feeds audit + write
        # r06 correctness fix (ADVICE): docs cut by the budget used
        # to keep keep=true with empty drop_reasons in the audit
        # while being absent from --out. Append an 'over_budget'
        # reason and recompute keep, restoring the audit contract
        # (only keep=true docs land in --out, every drop named).
        cut = (audit.filter("keep").select("doc_id")
               .join(corpus.select("doc_id"), "doc_id", "left_anti")
               .withColumn("__cut", F.lit(True)))
        audit = (audit.join(cut, "doc_id", "left")
                 .select("doc_id",
                         F.when(F.col("__cut").isNotNull(),
                                F.array_union(
                                    "drop_reasons",
                                    F.array(F.lit("over_budget"))))
                         .otherwise(F.col("drop_reasons"))
                         .alias("drop_reasons"))
                 .withColumn("keep", F.size("drop_reasons") == 0))
    audit.write.mode("overwrite").parquet(args.out + ".audit")
    corpus.write.mode("overwrite").parquet(args.out)
    print(f"wrote curated corpus to {args.out} (+ .audit)")


def main(argv=None):
    ap = argparse.ArgumentParser("pyshepseg_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen", help="generate synthetic images table")
    g.add_argument("--n", type=int, default=16)
    g.add_argument("--size", type=int, default=512)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--out", required=True)
    _add_common(g)
    g.set_defaults(fn=cmd_gen)

    s = sub.add_parser("segment", help="tiled segmentation")
    s.add_argument("--images", required=True)
    s.add_argument("--out", required=True)
    s.add_argument("--tilesize", type=int, default=4096)
    s.add_argument("--overlap", type=int, default=1024)
    s.add_argument("--num-clusters", type=int, default=60)
    s.add_argument("--min-segment-size", type=int, default=50)
    s.add_argument("--null-val", type=int, default=None)
    s.add_argument("--global-centres", action="store_true",
                   help="one global k-means over a subsample of all "
                        "input (the reference's single-raster "
                        "protocol) instead of per-image fits; "
                        "spreads tile rows for giant mosaics")
    s.add_argument("--four-connected", default=True,
                   action=argparse.BooleanOptionalAction)
    s.add_argument("--no-pixels", action="store_true",
                   help="write segdata only (skip the pixels "
                        "column): halves the paint stage's moved "
                        "bytes and the sink size; `stats` on the "
                        "result is unavailable (use `pipeline` "
                        "for fused stats)")
    _add_common(s)
    s.set_defaults(fn=cmd_segment)

    pl = sub.add_parser("pipeline",
                        help="segment + zonal stats in one pass")
    pl.add_argument("--images", required=True)
    pl.add_argument("--out", required=True)
    pl.add_argument("--tilesize", type=int, default=4096)
    pl.add_argument("--overlap", type=int, default=1024)
    pl.add_argument("--num-clusters", type=int, default=60)
    pl.add_argument("--min-segment-size", type=int, default=50)
    pl.add_argument("--null-val", type=int, default=None)
    pl.add_argument("--global-centres", action="store_true",
                   help="one global k-means over a subsample of all "
                        "input instead of per-image fits; spreads "
                        "tile rows for giant mosaics")
    pl.add_argument("--four-connected", default=True,
                    action=argparse.BooleanOptionalAction)
    pl.add_argument("--percentiles", default="50")
    pl.add_argument("--with-nodata", action="store_true",
                    help="A4: add per-segment nodata/valid counts")
    _add_common(pl)
    pl.set_defaults(fn=cmd_pipeline)

    st = sub.add_parser("stats", help="per-segment zonal stats")
    st.add_argument("--final", required=True)
    st.add_argument("--out", required=True)
    st.add_argument("--percentiles", default="50")
    st.add_argument("--with-nodata", action="store_true",
                    help="A4: add per-segment nodata/valid counts")
    st.add_argument("--null-val", type=int, default=None)
    _add_common(st)
    st.set_defaults(fn=cmd_stats)

    ov = sub.add_parser("overviews",
                        help="NEAREST overview pyramid of a stitched "
                             "segmentation (S8)")
    ov.add_argument("--final", required=True)
    ov.add_argument("--out", required=True)
    ov.add_argument("--final-out-size", type=int, default=1024)
    _add_common(ov)
    ov.set_defaults(fn=cmd_overviews)

    su = sub.add_parser("subset", help="bbox subset + dense recode")
    su.add_argument("--final", required=True)
    su.add_argument("--bbox", required=True,
                    help="x0,y0,width,height")
    su.add_argument("--out", required=True)
    _add_common(su)
    su.set_defaults(fn=cmd_subset)

    cu = sub.add_parser("curate",
                        help="document curation: PII scrub + Gopher "
                             "gate + exact/near dedup -> corpus + "
                             "audit")
    cu.add_argument("--docs", required=True,
                    help="parquet with (doc_id, text)")
    cu.add_argument("--out", required=True)
    cu.add_argument("--pii", default=True,
                    action=argparse.BooleanOptionalAction,
                    help="scrub PII before gating (default on)")
    cu.add_argument("--jaccard", type=float, default=0.8,
                    help="near-dup verify threshold")
    cu.add_argument("--shingle-k", type=int, default=5)
    cu.add_argument("--benchmark", default=None,
                    help="parquet with (text): drop docs sharing any "
                         "word n-gram with this eval benchmark "
                         "(GPT-3-style decontamination)")
    cu.add_argument("--contamination-ngram", type=int, default=13)
    cu.add_argument("--token-budget", type=int, default=None,
                    help="keep only the best-quality docs whose "
                         "summed whitespace-token count fits this "
                         "budget (deterministic)")
    _add_common(cu)
    cu.set_defaults(fn=cmd_curate)

    args = ap.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
