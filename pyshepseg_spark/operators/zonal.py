"""Zonal (per-segment) statistics — the tilingstats layer.

Spark-first rebuild of /root/reference/pyshepseg/tilingstats.py: the
reference accumulates each segment's seg -> {pixval -> count} dict
(A3, tilingstats.py:466-515), finalizes a segment once it is complete
and evicts it (tilingstats.py:466-617). The engine keeps that shape:

  1. per-tile kernels emit *partial value histograms*
     (image_id, seg_id, band, val, cnt), computed vectorized by the
     one numpy helper :func:`value_histogram` (the segmentation
     kernel's emit_hist, tile_value_histogram and
     seg_image_value_histogram all call it); pixel rows are never
     materialized.
  2. exact finalizers (A5, tilingstats.py:922-1008) derive
     min/max/mean/stddev/mode/median/percentile/pixcount from a
     merged histogram — *exact*, not percentile_approx, matching the
     reference bitwise for integer imagery. Two twins compute them:
     :func:`stats_from_bins` in numpy, where the bins are already
     grouped by image (:func:`segment_stats_tiled` finalizes each
     segment inside the stitch task, as soon as the stitch has seen
     its last tile row), and :func:`segment_stats_selected` in the
     JVM, after a groupBy(image_id, seg_id, band, val) merge, for
     histograms that are not grouped by image.

Nodata pixels are excluded from the value histogram but counted apart
(A4, tilingstats.py:640-653); a segment with no valid pixels reports
missingStatsValue (tilingstats.py:943-950).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..constants import MISSING_STATS_VALUE

HIST_SCHEMA = ("image_id string, seg_id long, band int, val long, "
               "cnt long")


def value_histogram(seg, pix, img_null_val: int | None = None):
    """A3 (accumulateSegDict, tilingstats.py:466-515): the one
    per-segment value histogram every stats kernel calls. ``seg``
    holds segment ids (any shape), ``pix`` is (nbands, *seg.shape)
    integer imagery with values < 2^17. Returns (seg_id, band, val,
    cnt) int64 arrays, band-major and ascending (seg_id, val) within
    a band. Segment 0 is never counted; ``img_null_val`` pixels are
    dropped only when it is set (None keeps nodata bins for the A4
    counter); a band with no kept pixels emits no rows.

    Each pixel packs to one int64 key (seg << 17) | val, so one sort
    (np.unique) per band does the whole count."""
    segf = seg.ravel().astype(np.int64)
    valid = segf > 0
    keys, bands, cnts = [], [], []
    for b in range(pix.shape[0]):
        v = pix[b].ravel().astype(np.int64)
        m = valid if img_null_val is None else valid & (v != img_null_val)
        if not m.any():
            continue
        uk, cnt = np.unique((segf[m] << np.int64(17)) | v[m],
                            return_counts=True)
        keys.append(uk)
        bands.append(np.full(len(uk), b, dtype=np.int64))
        cnts.append(cnt)
    if not keys:
        e = np.empty(0, dtype=np.int64)
        return e, e, e, e
    key = np.concatenate(keys)
    return (key >> 17, np.concatenate(bands),
            key & ((1 << 17) - 1), np.concatenate(cnts))


def _hist_frame(image_id, seg, pix, img_null_val):
    """value_histogram as HIST_SCHEMA rows for one image or tile."""
    s, b, v, c = value_histogram(seg, pix, img_null_val)
    return pd.DataFrame({"image_id": image_id, "seg_id": s, "band": b,
                         "val": v, "cnt": c})


def _concat_hist(frames):
    frames = [f for f in frames if len(f)]
    return (pd.concat(frames, ignore_index=True) if frames
            else pd.DataFrame(columns=["image_id", "seg_id", "band",
                                       "val", "cnt"]))


def segment_nodata_counts(hist_all, img_null_val: int):
    """A4 (tilingstats.py:640-653, accumulation :502-507): per-
    segment nodata pixels counted APART from the value stats. Input
    is a FULL value histogram (built with ``img_null_val=None`` so
    nodata values survive as ordinary bins); output has one row per
    (image_id, seg_id, band) with nodata_cnt (0 when none) and
    valid_cnt — all-nodata segments appear with valid_cnt 0, matching
    the reference's empty-histogram/missingStatsValue case
    (tilingstats.py:943-950). One JVM aggregation, no extra pass over
    pixels."""
    isnull = F.col("val") == F.lit(img_null_val)
    return hist_all.groupBy("image_id", "seg_id", "band").agg(
        F.sum(F.when(isnull, F.col("cnt")).otherwise(F.lit(0)))
        .alias("nodata_cnt"),
        F.sum(F.when(~isnull, F.col("cnt")).otherwise(F.lit(0)))
        .alias("valid_cnt"))


def segment_stats_tiled(images_df, cfg, percentiles=(50,),
                        with_nodata=False, centres=None):
    """images -> per-segment exact stats (:func:`segment_stats`'
    columns) with ONE exchange, never materializing the painted
    mosaic or re-reading pixels: the segmentation kernel emits each
    tile's trimmed-core histogram on local ids (explode_and_segment
    emit_hist, no pixel/segtile binaries in its output at all), and
    the sequential stitch kernel, which already streams each image's
    tiles in (trow, tcol) order, remaps those bins to final ids,
    merges them and runs the numpy finalizer (:func:`stats_from_bins`)
    on every segment as soon as it is complete — after the last tile
    row it can gain pixels in. Pixels cross the Arrow boundary
    exactly once; the only shuffle is the stitch's per-image
    repartition — no checkpoint, no merge groupBy, no join.

    with_nodata=True adds the A4 ``nodata_cnt`` / ``valid_cnt``
    columns, counted from the same full bins (the kernel keeps
    nodata values as ordinary bins) ahead of the stats, which are
    null where ``valid_cnt`` is 0 — the columns and values of
    ``segment_nodata_counts(...).join(segment_stats(...), "left")``.

    centres: None (default) fits per image inside the fused kernel —
    parallelism = image count, the many-images regime. A shared
    (k, nbands) numpy matrix switches to the giant-single-raster
    mode: unfused explode -> SPREAD tile rows -> per-tile kernels,
    so one mosaic's tiles run across the cluster instead of inside
    the single task that decoded the image (fit the matrix with
    segment.fit_global_centres — the reference's own prepare
    phase)."""
    from .segment import _kernel_tiles, _stitch_bins

    null = cfg.img_null_val
    nodata = with_nodata and null is not None
    sel = _fixed_selection(percentiles)

    def finish(bins):
        if not nodata and null is not None:
            bins = bins[bins["val"].to_numpy() != null]
        out = stats_from_bins(bins, sel, null if nodata else None)
        if 50 in percentiles:
            out["median_val"] = out["p50_val"]
        return out

    schema = ", ".join(
        ["image_id string, seg_id long, band int"]
        + (["nodata_cnt long, valid_cnt long"] if nodata else [])
        + [f"{s[0]} {'double' if s[1] in _FLOAT_STATS else 'long'}"
           for s in sel]
        + (["median_val long"] if 50 in percentiles else []))
    st = _kernel_tiles(images_df, cfg, centres, emit_hist=True,
                       keep_binaries=False)
    return _stitch_bins(st, cfg.overlap, finish, schema)


def tile_value_histogram(final_tiles, img_null_val: int | None = None):
    """Stage 1: per-tile partial (seg, band, value) histograms from
    the stitched tiles (segdata int64 + trimmed pixels). mapInPandas;
    the only shuffle is the later merge groupBy."""

    def kernel(batches):
        for pdf in batches:
            frames = []
            for row in pdf.itertuples(index=False):
                seg = np.frombuffer(row.segdata, dtype="<i8")
                pix = np.frombuffer(row.pixels, dtype="<u2").reshape(
                    row.nbands, -1)
                frames.append(_hist_frame(row.image_id, seg, pix,
                                          img_null_val))
            yield _concat_hist(frames)

    cols = ["image_id", "nbands", "pixels", "segdata"]
    part = final_tiles.select(*cols).mapInPandas(kernel, HIST_SCHEMA)
    return (part.groupBy("image_id", "seg_id", "band", "val")
            .agg(F.sum("cnt").alias("cnt")))


def check_image_alignment(seg_images, images_df,
                          max_report: int = 20,
                          strict: bool = False):
    """Analogue of the reference's doImageAlignmentChecks
    (tilingstats.py:409-463): cross-raster zonal stats — values from
    one table, segmentation from another — are only meaningful when
    both share the pixel grid. Joins the two tables' METADATA (no
    pixel data moves) and raises a clear error listing image_ids
    whose grids mismatch or whose segmentation row has no values-side
    match; without the check a mismatched values raster dies deep in
    the decode kernel with a shape error (or, for raw bytes of
    coincidentally equal length, silently histograms misaligned
    pixels — the reference calls this 'silently getting everything
    wrong' and refuses).

    Values-side-ONLY rows (a values catalog that is a superset of the
    segmentation table) are benign — the downstream inner join simply
    skips them, and the reference's two-raster check has no precedent
    for erroring there — so they warn by default; strict=True
    promotes them to errors (driver ADVICE r4)."""
    import warnings
    a = seg_images.select("image_id",
                          F.col("w").alias("seg_w"),
                          F.col("h").alias("seg_h"))
    b = images_df.select("image_id",
                         F.col("w").alias("img_w"),
                         F.col("h").alias("img_h"))
    joined = a.join(b, "image_id", "full_outer")
    bad = (joined
           .filter(F.col("seg_w").isNotNull()
                   & (F.col("img_w").isNull()
                      | (F.col("seg_w") != F.col("img_w"))
                      | (F.col("seg_h") != F.col("img_h"))))
           .limit(max_report).collect())
    if bad:
        detail = "; ".join(
            f"{r['image_id']}: seg {r['seg_w']}x{r['seg_h']} vs "
            f"img {r['img_w']}x{r['img_h']}" for r in bad)
        raise ValueError(
            "segmentation/image tables are not aligned "
            f"(first {len(bad)} offenders): {detail}")
    extra = (joined.filter(F.col("seg_w").isNull())
             .limit(max_report).collect())
    if extra:
        detail = ", ".join(str(r["image_id"]) for r in extra)
        msg = (f"values table has {len(extra)}+ image_ids with no "
               f"segmentation row (skipped by the stats join): "
               f"{detail}")
        if strict:
            raise ValueError(msg)
        warnings.warn(msg)


def seg_image_value_histogram(seg_images, images_df,
                              img_null_val: int | None = None,
                              validate: bool = True):
    """Stage-1 variant for the whole-image path: join seg rasters
    back to image bytes and histogram in one kernel. Accepts a
    DIFFERENT values table than the one segmented (the reference's
    calcPerSegmentStatsTiled(imgfile, segfile) cross-raster form) —
    validate=True runs check_image_alignment first."""
    if validate:
        check_image_alignment(seg_images, images_df)
    j = seg_images.select("image_id", "w", "h", "nbands", "segdata") \
        .join(images_df.select("image_id", "bytes", "fmt"), "image_id")

    def kernel(batches):
        from ..sources.codec import decode_image
        for pdf in batches:
            frames = []
            for row in pdf.itertuples(index=False):
                seg = np.frombuffer(row.segdata, dtype="<i8")
                pix = decode_image(row.bytes, row.fmt, row.w, row.h)
                if len(pix) < row.nbands:
                    raise ValueError(
                        f"{row.image_id}: values image has {len(pix)} "
                        f"bands, the segmentation row {row.nbands}")
                frames.append(_hist_frame(row.image_id, seg,
                                          pix[:row.nbands],
                                          img_null_val))
            yield _concat_hist(frames)

    part = j.mapInPandas(kernel, HIST_SCHEMA)
    return (part.groupBy("image_id", "seg_id", "band", "val")
            .agg(F.sum("cnt").alias("cnt")))


def _fixed_selection(percentiles):
    """:func:`segment_stats`' selection, in the named format."""
    sel = [("min_val", "min"), ("max_val", "max"),
           ("pix_count", "pixcount"), ("mean_val", "mean"),
           ("stddev_val", "stddev"), ("mode_val", "mode")]
    return sel + [(f"p{p:02d}_val", "percentile", p) for p in percentiles]


def segment_stats(hist, percentiles=(50,)):
    """Stage 2: the fixed stats table over the value histogram —
    :func:`segment_stats_selected` with the selection

      min_val, max_val, pix_count, mean_val, stddev_val, mode_val,
      then p{p:02d}_val per entry of ``percentiles``,

    plus ``median_val`` (= p50_val) when 50 is selected. Matches
    SegmentStats (tilingstats.py:922-1008); the finalizer semantics
    are documented on :func:`segment_stats_selected`."""
    out = segment_stats_selected(hist, _fixed_selection(percentiles))
    if 50 in percentiles:
        out = out.withColumn("median_val", F.col("p50_val"))
    return out


def _mode_smallest(value_col: str, count_col: str):
    """O4: mode as max_by(value, (count, -value)) — ties resolve to
    the smallest value, matching the reference's first-argmax over
    value-sorted arrays (tilingstats.py:964)."""
    return F.max_by(value_col,
                    F.struct(F.col(count_col),
                             (-F.col(value_col)).alias("nv")))


_SELECTABLE_STATS = ("min", "max", "mean", "stddev", "median",
                     "mode", "percentile", "pixcount")
_FLOAT_STATS = ("mean", "stddev")


def _parse_selection(selection):
    """Validates a stats selection (tilingstats.py:106-131 format) for
    both finalizers; returns (name, stat, p) triples, p the
    percentile (50 for median, None for the other stats)."""
    out = []
    for sel in selection:
        if len(sel) not in (2, 3) or sel[1] not in _SELECTABLE_STATS:
            raise ValueError(f"bad statsSelection entry {sel!r}: "
                             f"statName must be one of "
                             f"{_SELECTABLE_STATS}")
        if sel[1] == "percentile" and (
                len(sel) != 3 or not 0 <= sel[2] <= 100):
            raise ValueError(f"percentile needs (name, 'percentile', "
                             f"0..100), got {sel!r}")
        if sel[1] != "percentile" and len(sel) == 3:
            # the reference selection format treats a param on a
            # non-percentile stat as malformed — don't silently
            # ignore it
            raise ValueError(f"statsSelection entry {sel!r}: only "
                             f"'percentile' takes a third element")
        p = sel[2] if sel[1] == "percentile" else (
            50 if sel[1] == "median" else None)
        out.append((sel[0], sel[1], p))
    return out


def segment_stats_selected(hist, selection):
    """Named stats-selection surface — the contract a caller ported
    from the reference uses (tilingstats.py:798-863
    makeFastStatsSelection; selection format :106-131): each entry is
    ``(columnName, statName)`` or ``(columnName, 'percentile', p)``,
    statName one of min/max/mean/stddev/median/mode/percentile/
    pixcount. Output columns take the caller's names and the
    reference's dtypes (mean/stddev float columns -> double,
    everything else int -> long).

    Exact finalizers (SegmentStats, tilingstats.py:922-1008):
      min/max       — extreme values present
      mean          — sum(v*c)/n
      stddev        — population: sqrt(max(sum(v*v*c)/n - mean^2, 0))
      mode          — value with max count, ties -> smallest value
                      (argmax over value-sorted arrays)
      percentile p  — first value (ascending) whose cumulative count
                      >= n*p/100, compared as a double (exact; the
                      reference's cumulative-count walk,
                      tilingstats.py:969-986); median is p = 50
      pixcount      — n
    All derived with built-in JVM aggregations (max_by, windows) —
    no UDFs in this stage. ONE window pass (cumulative + total counts
    share the sort), added only when the selection needs an order
    statistic, and ONE aggregation: the histogram — and therefore
    everything upstream of it — is scanned exactly once. Variance is
    single-pass in doubles (values <= 2^17 keep E[x^2]-E[x]^2 well
    above the double noise floor). :func:`stats_from_bins` is the
    numpy twin, bitwise equal on merged histograms."""
    g = ["image_id", "seg_id", "band"]
    sel = _parse_selection(selection)
    h = hist
    if any(p is not None for _, _, p in sel):
        w_cum = (Window.partitionBy(*g).orderBy("val")
                 .rowsBetween(Window.unboundedPreceding, 0))
        w_all = (Window.partitionBy(*g)
                 .rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing))
        h = (h.withColumn("cum", F.sum("cnt").over(w_cum))
             .withColumn("n", F.sum("cnt").over(w_all)))

    vc = F.col("val").cast("double") * F.col("cnt")
    v2c = (F.col("val").cast("double") * F.col("val").cast("double")
           * F.col("cnt"))
    mean = F.sum(vc) / F.sum("cnt")
    builders = {
        "min": lambda: F.min("val").cast("long"),
        "max": lambda: F.max("val").cast("long"),
        "mean": lambda: mean,
        "stddev": lambda: F.sqrt(F.greatest(
            F.sum(v2c) / F.sum("cnt") - mean * mean, F.lit(0.0))),
        "mode": lambda: _mode_smallest("val", "cnt").cast("long"),
        "pixcount": lambda: F.sum("cnt").cast("long"),
    }
    aggs = []
    for name, stat, p in sel:
        if p is not None:
            agg = F.min(F.when(
                F.col("cum") >= F.col("n") * F.lit(p) / F.lit(100),
                F.col("val"))).cast("long")
        else:
            agg = builders[stat]()
        aggs.append(agg.alias(name))
    return h.groupBy(*g).agg(*aggs)


def _first_per_group(mask, gid):
    """Index of the first True of ``mask`` in each group (``gid``
    ascending; every group has one)."""
    idx = np.flatnonzero(mask)
    g = gid[idx]
    return idx[np.r_[True, g[1:] != g[:-1]]]


def _bin_stats(val, cnt, starts, sel):
    """The finalizers of :func:`segment_stats_selected` over
    histogram rows sorted by (group, val), groups beginning at
    ``starts``; returns {name: per-group array}."""
    gid = np.repeat(np.arange(len(starts)), np.diff(np.r_[starts,
                                                          len(val)]))
    n = np.add.reduceat(cnt, starts)
    vd = val.astype(np.float64)
    mean = np.add.reduceat(vd * cnt, starts) / n
    cs = np.cumsum(cnt)
    cum = cs - (cs[starts] - cnt[starts])[gid]
    out = {}
    for name, stat, p in sel:
        if p is not None:
            col = val[_first_per_group(cum >= (n * p / 100)[gid], gid)]
        elif stat == "min":
            col = val[starts]
        elif stat == "max":
            col = val[np.r_[starts[1:], len(val)] - 1]
        elif stat == "mean":
            col = mean
        elif stat == "stddev":
            col = np.sqrt(np.maximum(
                np.add.reduceat(vd * vd * cnt, starts) / n
                - mean * mean, 0.0))
        elif stat == "mode":
            top = np.maximum.reduceat(cnt, starts)
            col = val[_first_per_group(cnt == top[gid], gid)]
        else:  # pixcount
            col = n
        out[name] = col
    return out


def group_starts(*keys):
    """Start index of each run of equal key tuples in sorted rows."""
    new = np.ones(len(keys[0]), dtype=bool)
    if len(new):
        new[1:] = False
        for k in keys:
            new[1:] |= k[1:] != k[:-1]
    return np.flatnonzero(new)


def group_sums(a, starts):
    """np.add.reduceat over the groups beginning at ``starts``,
    empty for no groups."""
    return np.add.reduceat(a, starts) if len(starts) else a[:0]


def stats_from_bins(bins, selection, nodata_val=None):
    """Spark-free twin of :func:`segment_stats_selected`: the same
    finalizers, columns and dtypes over a merged value histogram held
    in pandas (HIST_SCHEMA columns, one row per (image_id, seg_id,
    band, val), positive counts, any order). Every sum is taken in
    float64 in the JVM form's operation order, so the two are
    bitwise equal while the sums stay below 2^53.

    ``nodata_val`` set: ``bins`` is a FULL histogram (nodata values
    kept as ordinary bins) and the output is the twin of
    ``segment_nodata_counts(bins, v).join(segment_stats_selected(
    bins.filter(val != v), selection), "left")``: ``nodata_cnt`` and
    ``valid_cnt`` ahead of the stats, which are null where
    ``valid_cnt`` is 0."""
    sel = _parse_selection(selection)
    codes, images = pd.factorize(bins["image_id"], sort=False)
    seg, band, val, cnt = (bins[c].to_numpy(np.int64)
                           for c in ("seg_id", "band", "val", "cnt"))
    order = np.lexsort((val, band, seg, codes))
    codes, seg, band, val, cnt = (a[order] for a in
                                  (codes, seg, band, val, cnt))
    starts = group_starts(codes, seg, band)
    out = {"image_id": np.asarray(images, dtype=object)[codes[starts]],
           "seg_id": seg[starts], "band": band[starts].astype(np.int32)}
    keep = np.ones(len(val), dtype=bool)
    if nodata_val is not None:
        keep = val != nodata_val
        valid = group_sums(np.where(keep, cnt, 0), starts)
        out["nodata_cnt"] = group_sums(cnt, starts) - valid
        out["valid_cnt"] = valid
    vstarts = group_starts(codes[keep], seg[keep], band[keep])
    stats = (_bin_stats(val[keep], cnt[keep], vstarts, sel)
             if len(vstarts) else {})
    for name, stat, _ in sel:
        dtype = np.float64 if stat in _FLOAT_STATS else np.int64
        col = stats.get(name, np.empty(0, dtype))
        if len(vstarts) < len(starts):
            # groups with no valid bins: null stats
            full = pd.array(np.zeros(len(starts), dtype),
                            dtype="Float64" if dtype is np.float64
                            else "Int64")
            full[:] = pd.NA
            full[np.flatnonzero(out["valid_cnt"])] = col
            col = full
        out[name] = col
    return pd.DataFrame(out)


def global_stats_from_histogram(seg_sizes):
    """A7 (utils.py:47-95): whole-raster stats of the segment-ID
    image derived from the segment-size histogram: one agg plus a
    cumulative window for the reference's histogram median (first
    bin whose cumulative count reaches half the pixels,
    utils.py:68-71)."""
    wcum = (Window.partitionBy("image_id").orderBy("seg_id")
            .rowsBetween(Window.unboundedPreceding, 0))
    wtot = Window.partitionBy("image_id")
    cum = (seg_sizes
           .withColumn("cum", F.sum("cnt").over(wcum))
           .withColumn("half", F.sum("cnt").over(wtot) / 2))
    med = (cum.filter(F.col("cum") >= F.col("half"))
           .groupBy("image_id")
           .agg(F.min("seg_id").alias("median_seg")))
    agg = (seg_sizes.groupBy("image_id").agg(
        F.min("seg_id").alias("min_seg"),
        F.max("seg_id").alias("max_seg"),
        (F.sum(F.col("seg_id") * F.col("cnt"))
         / F.sum("cnt")).alias("mean_seg"),
        _mode_smallest("seg_id", "cnt").alias("mode_seg"),
        F.sum("cnt").alias("pix_count")))
    return agg.join(med, "image_id")


def segment_sizes(final_tiles):
    """A1: segment-size histogram = groupBy count over per-tile
    partial bincounts (the reference's HistogramAccumulator
    partial+final merge, tiling.py:1915-1963)."""

    def kernel(batches):
        for pdf in batches:
            frames = []
            for row in pdf.itertuples(index=False):
                seg = np.frombuffer(row.segdata, dtype="<i8")
                seg = seg[seg > 0]
                if seg.size == 0:
                    continue
                u, c = np.unique(seg, return_counts=True)
                frames.append(pd.DataFrame({
                    "image_id": row.image_id, "seg_id": u, "cnt": c}))
            yield (pd.concat(frames, ignore_index=True) if frames
                   else pd.DataFrame(columns=["image_id", "seg_id",
                                              "cnt"]))

    part = final_tiles.select("image_id", "segdata").mapInPandas(
        kernel, "image_id string, seg_id long, cnt long")
    return part.groupBy("image_id", "seg_id").agg(
        F.sum("cnt").alias("cnt"))


def check_empty_segments(seg_sizes, seg_images=None, max_seg=None):
    """S10 (tiling.py:1308-1341): every ID in 1..max must have pixels;
    an empty segment indicates a stitch inconsistency. Returns a
    DataFrame of missing IDs (empty => consistent)."""
    mx = seg_sizes.groupBy("image_id").agg(
        F.max("seg_id").alias("max_seg"))
    expected = mx.select(
        "image_id",
        F.explode(F.sequence(F.lit(1), F.col("max_seg"))).alias("seg_id"))
    return expected.join(seg_sizes, ["image_id", "seg_id"],
                         "left_anti")


def fill_missing_stats(stats_df, all_segments):
    """Segments with zero valid pixels report MISSING_STATS_VALUE
    (tilingstats.py:943-950): left-join the full segment list and
    fill."""
    joined = all_segments.join(stats_df, ["image_id", "seg_id"],
                               "left")
    fills = {c: MISSING_STATS_VALUE for c in joined.columns
             if c.endswith("_val")}
    fills["pix_count"] = 0
    return joined.fillna(fills)
