"""Tile-grid generation and tile explosion.

Reimplements the reference's overlapping tile grid
(/root/reference/pyshepseg/tiling.py:376-443 getTilesForFile): step =
tileSize - overlapSize, and the last tile in each direction grows to
the raster edge ("no slivers": whenever another full tile would not
fit, the current tile absorbs the remainder).

Spark form (SURVEY.md §2.1 S5): the grid is a pure function of
(w, h, tileSize, overlap); tiles are exploded from image rows with
``mapInPandas`` so the decode + slice runs vectorized on executors and
the result is one DataFrame row per tile — embarrassingly parallel
downstream, no shuffle introduced.

Each tile also gets a Morton (Z-order) cell key at a fixed resolution,
the engine's H3/S2-analogue spatial index for in-image spatial joins
(BASELINE.json north_star).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..sources.codec import decode_image, encode_raw_u16

TILE_SCHEMA = (
    "image_id string, tcol int, trow int, ntcols int, ntrows int, "
    "xpos int, ypos int, xsize int, ysize int, nbands int, "
    "cell long, pixels binary"
)

TILE_SCHEMA_WITH_CENTRES = TILE_SCHEMA + ", centres binary"

# formats the integer kernels can decode; anything else (float
# rasters, unknown codecs) is refused planner-side (P5)
SUPPORTED_FMTS = ("png", "raw_u16")


def assert_integer_imagery(images_df, fmt_col="fmt"):
    """P5 guard (ref tilingstats.py:450-452 refuses float imagery):
    reject formats the uint16 kernels cannot represent BEFORE any
    pixel job launches. One distinct aggregation over the (tiny,
    dictionary-encoded) fmt column — metadata-scale, no pixel scan."""
    from pyspark.sql import functions as F
    fmts = [r[0] for r in
            images_df.select(F.col(fmt_col)).distinct().collect()]
    bad = sorted(f for f in fmts if f not in SUPPORTED_FMTS)
    if bad:
        raise ValueError(
            f"unsupported image formats {bad}: the integer kernels "
            f"require integer imagery ({sorted(SUPPORTED_FMTS)}) — "
            "reference refuses float types (tilingstats.py:450-452)")


def discover_img_null_val(images_df, col="band_null_vals"):
    """S4 (ref tiling.py:229-256 getImgNullValue): discover the image
    null value from per-band table metadata — the engine's analogue
    of GDAL's per-band NoDataValue is an optional ``band_null_vals``
    array<int> column. Returns the single agreed value (None when the
    column is absent or no image declares one); raises when bands
    disagree — within an image, across images, or declared-vs-
    undeclared — exactly the reference's failure mode. One
    metadata-scale aggregation (distinct over per-image distinct
    sets), no pixel scan."""
    from pyspark.sql import functions as F
    if col not in images_df.columns:
        return None
    per_img = F.coalesce(F.array_distinct(F.col(col)),
                         F.array(F.lit(None).cast("int")))
    per_img = F.when(F.size(per_img) == 0,
                     F.array(F.lit(None).cast("int"))).otherwise(per_img)
    rows = (images_df.select(F.explode(per_img).alias("nv"))
            .distinct().collect())
    vals = sorted((r["nv"] for r in rows),
                  key=lambda v: (v is None, v))
    if len(vals) > 1:
        raise ValueError(
            f"Different null values in some bands/images: {vals} "
            "(ref tiling.py:253 raises PyShepSegTilingError)")
    return vals[0] if vals else None


def overview_levels(w: int, h: int, final_out_size: int = 1024):
    """Reference setupOverviews (tiling.py:1385-1404) level series,
    replicated exactly — including its append-then-recheck control
    flow, whose last level is the first one whose subsampled size
    drops below ``final_out_size``."""
    out_size = max(w, h)
    levels = []
    i = 2
    ok = (out_size // (2 ** i)) >= final_out_size
    while ok:
        levels.append(2 ** i)
        ok = (out_size // (2 ** i)) >= final_out_size
        i += 1
    return levels


OVERVIEW_TILE_SCHEMA = (
    "image_id string, level int, tcol int, trow int, xout int, "
    "yout int, out_xsize int, out_ysize int, segdata binary")


def overview_pyramid_tiles(final_tiles, final_out_size: int = 1024):
    """S8 overview-pyramid sink (ref tiling.py:1360-1404): NEAREST
    level series of the stitched segment mosaic, one output row per
    (tile, level), computed tile-locally exactly like the reference's
    writeOverviews — subsample ``seg[o::lvl, o::lvl]`` with
    ``o = lvl // 2``, placed at ``(xout // lvl, yout // lvl)`` and
    clipped to the ceil-divided overview raster. Embarrassingly
    parallel; the only coordination is the tiny per-image (w, h)
    broadcast. Nearest (not mean) because segment IDs are categorical."""
    from pyspark.sql import functions as F
    dims = final_tiles.groupBy("image_id").agg(
        F.max(F.col("xout") + F.col("out_xsize")).alias("w"),
        F.max(F.col("yout") + F.col("out_ysize")).alias("h"))
    j = (final_tiles.select("image_id", "tcol", "trow", "xout",
                            "yout", "out_xsize", "out_ysize",
                            "segdata")
         # no forced broadcast: dims has one row PER IMAGE — tiny
         # here, unbounded at 10^12 images; AQE broadcasts when small
         .join(dims, "image_id"))
    cols = ["image_id", "level", "tcol", "trow", "xout", "yout",
            "out_xsize", "out_ysize", "segdata"]

    def kernel(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                seg = np.frombuffer(row.segdata, dtype="<i8").reshape(
                    row.out_ysize, row.out_xsize)
                for lvl in overview_levels(row.w, row.h,
                                           final_out_size):
                    o = lvl // 2
                    ov_w = (row.w + lvl - 1) // lvl
                    ov_h = (row.h + lvl - 1) // lvl
                    xo, yo = row.xout // lvl, row.yout // lvl
                    sub = seg[o::lvl, o::lvl][:ov_h - yo, :ov_w - xo]
                    if sub.size == 0:
                        continue
                    out.append({
                        "image_id": row.image_id, "level": lvl,
                        "tcol": row.tcol, "trow": row.trow,
                        "xout": xo, "yout": yo,
                        "out_xsize": sub.shape[1],
                        "out_ysize": sub.shape[0],
                        "segdata": np.ascontiguousarray(sub).tobytes()})
            yield pd.DataFrame(out, columns=cols)

    return j.mapInPandas(kernel, OVERVIEW_TILE_SCHEMA)


def tile_grid(w: int, h: int, tile_size: int, overlap: int):
    """List of (tcol, trow, xpos, ypos, xsize, ysize) covering an
    w x h raster, matching reference tiling.py:376-443 exactly."""
    tiles = []
    step = tile_size - overlap
    ypos, trow = 0, 0
    y_done = False
    while not y_done:
        ysize = tile_size
        if ypos + ysize * 2 > h:
            ysize = h - ypos
            y_done = True
            if ysize == 0:
                break
        xpos, tcol = 0, 0
        x_done = False
        while not x_done:
            xsize = tile_size
            if xpos + xsize * 2 > w:
                xsize = w - xpos
                x_done = True
                if xsize == 0:
                    break
            tiles.append((tcol, trow, xpos, ypos, xsize, ysize))
            xpos += step
            tcol += 1
        ypos += step
        trow += 1
    ntcols = max(t[0] for t in tiles) + 1
    ntrows = max(t[1] for t in tiles) + 1
    return tiles, ntcols, ntrows


def morton_cell(x: int, y: int, bits: int = 16) -> int:
    """Interleave x/y bits -> Z-order cell id (spatial index key)."""
    v = 0
    for i in range(bits):
        v |= ((x >> i) & 1) << (2 * i)
        v |= ((y >> i) & 1) << (2 * i + 1)
    return v


def fit_image_centres(img, k, cfg):
    """Deterministic per-image centre fit on a strided non-null
    sample (the reference's ~1e6-px sampling rule scaled to image
    size; tiling.py:196-210 + shepseg.py:290-298)."""
    from ..kernels.kmeans import fit_spectral_clusters_sample
    nbands = img.shape[0]
    x = img.transpose(1, 2, 0).reshape(-1, nbands)
    if cfg.img_null_val is not None:
        x = x[(x != cfg.img_null_val).all(axis=1)]
    npix = x.shape[0]
    if npix == 0:
        # fully-null image: nothing to cluster. Return trivial
        # centres so the kernel proceeds to an all-null (zero
        # segments, empty stats) result instead of killing the stage
        # — at 10^12-image scale one bad row must not fail the job.
        return np.zeros((k, nbands), dtype=np.float64)
    target = min(npix, max(npix // 100, k * 200, 2000))
    x = x[::max(1, npix // target)].astype(np.float64)
    return fit_spectral_clusters_sample(
        x, k, cfg.fixed_kmeans_init, n_init=cfg.kmeans_n_init)


def _image_columns(images_df):
    """The image-row columns the kernels read: the pixels, and the
    per-row ``num_clusters`` when the table has one."""
    return (["image_id", "bytes", "w", "h", "fmt"]
            + (["num_clusters"] if "num_clusters" in images_df.columns
               else []))


def _decoded_rows(pdf, on_decode_error: str = "fail"):
    """The one image-row reader of every image kernel: yields
    (row, img) for each row of an Arrow batch holding ``bytes``,
    ``fmt``, ``w`` and ``h``, ``img`` the decoded (nbands, h, w)
    array. A row whose bytes do not decode raises, or is dropped when
    ``on_decode_error == "skip"`` (the SegConfig field of that name)
    — at 10^12-image scale garbage rows exist and must not kill the
    stage."""
    for row in pdf.itertuples(index=False):
        try:
            img = decode_image(row.bytes, row.fmt, row.w, row.h)
        except Exception:
            if on_decode_error == "skip":
                continue
            raise
        yield row, img


def _image_rows(pdf, cfg):
    """The image-row reader of every images -> segments kernel that
    fits its own centres: :func:`_decoded_rows` under
    ``cfg.on_decode_error`` over a batch selected with
    :func:`_image_columns`, yielding (row, img, centres) — ``centres``
    the image's own :func:`fit_image_centres` fit, with k = the row's
    ``num_clusters`` (when set and nonzero) else
    ``cfg.num_clusters``."""
    for row, img in _decoded_rows(pdf, cfg.on_decode_error):
        k = getattr(row, "num_clusters", None)
        if not k or pd.isna(k):
            k = cfg.num_clusters
        yield row, img, fit_image_centres(img, int(k), cfg)


def _shepherd(img, centres, cfg):
    """The engine's one Shepherd kernel call (the reference's
    doShepherdSegmentation, shepseg.py:130): ``img`` segmented
    against ``centres`` with the SegConfig's parameters."""
    from ..kernels.shepherd import do_shepherd_segmentation
    return do_shepherd_segmentation(
        img,
        min_segment_size=cfg.min_segment_size,
        max_spectral_diff=cfg.max_spectral_diff,
        img_null_val=cfg.img_null_val,
        four_connected=cfg.four_connected,
        centres=centres,
        spect_dist_pcntile=cfg.spect_dist_pcntile,
        max_clump_size=cfg.max_clump_size)


def explode_tiles(images_df, tile_size: int, overlap: int,
                  cell_shift: int = 8, fit_cfg=None,
                  on_decode_error: str = "fail"):
    """images DataFrame -> tiles DataFrame (one row per overlapping
    tile, pixels re-encoded raw_u16). Runs as mapInPandas: narrow,
    no shuffle; Catalyst prunes unused image columns upstream.

    Rows are read by :func:`_decoded_rows` under ``on_decode_error``.
    With ``fit_cfg`` (a SegConfig) they are read by
    :func:`_image_rows` instead: each image is decoded once, its
    centres are fitted in the same kernel, every tile row carries
    that centre matrix (a few hundred bytes) and
    ``fit_cfg.on_decode_error`` applies."""
    if overlap % 2 != 0:
        raise ValueError("overlap size must be even")  # tiling.py:746
    if tile_size <= 2 * overlap:
        raise ValueError("tile_size must exceed 2*overlap")
    cols = ["image_id", "tcol", "trow", "ntcols", "ntrows", "xpos",
            "ypos", "xsize", "ysize", "nbands", "cell", "pixels"]
    if fit_cfg is None:
        images_df = images_df.select("image_id", "bytes", "w", "h", "fmt")
    else:
        images_df = images_df.select(*_image_columns(images_df))
        cols.append("centres")

    def kernel(batches):
        for pdf in batches:
            if fit_cfg is None:
                rows = ((row, img, None) for row, img in
                        _decoded_rows(pdf, on_decode_error))
            else:
                rows = _image_rows(pdf, fit_cfg)
            out = []
            for row, img, centres in rows:
                if centres is not None:
                    centres = centres.astype("<f8").tobytes()
                tiles, ntcols, ntrows = tile_grid(
                    row.w, row.h, tile_size, overlap)
                for (tc, tr, xp, yp, xs, ys) in tiles:
                    sub = img[:, yp:yp + ys, xp:xp + xs]
                    rec = {
                        "image_id": row.image_id,
                        "tcol": tc, "trow": tr,
                        "ntcols": ntcols, "ntrows": ntrows,
                        "xpos": xp, "ypos": yp,
                        "xsize": xs, "ysize": ys,
                        "nbands": img.shape[0],
                        "cell": morton_cell(xp >> cell_shift,
                                            yp >> cell_shift),
                        "pixels": encode_raw_u16(sub),
                    }
                    if centres is not None:
                        rec["centres"] = centres
                    out.append(rec)
            yield pd.DataFrame(out, columns=cols)

    return images_df.mapInPandas(
        kernel, TILE_SCHEMA if fit_cfg is None else TILE_SCHEMA_WITH_CENTRES)


def decode_tile_pixels(pixels: bytes, nbands: int, ysize: int,
                       xsize: int) -> np.ndarray:
    return np.frombuffer(pixels, dtype="<u2").reshape(
        nbands, ysize, xsize).astype(np.uint16)


def _declared_pixels(images_df) -> int:
    from pyspark.sql import functions as F
    return images_df.select(
        F.sum(F.col("w").cast("long") * F.col("h"))).collect()[0][0] or 0


def _stride(total_pixels: int, target_pixels: int) -> int:
    return max(1, int(round(total_pixels / float(target_pixels))))


def stride_sample_pixels(images_df, target_pixels: int = 1_000_000,
                         img_null_val: int | None = None,
                         on_decode_error: str = "fail",
                         total_pixels: int | None = None):
    """Global k-means sample (reference tiling.py:196-224
    fitSpectralClustersWholeFile): read every k-th non-null pixel of
    every image so the total sample is ~target_pixels, deterministic
    stride (no RNG). Returns a DataFrame with one row per image of
    packed float32 sample bytes (compact collect to the driver) and
    the image's decoded pixel count ``npix``.
    Rows are read by :func:`_decoded_rows` under ``on_decode_error``.
    The stride is planned from ``total_pixels``, by default the
    declared w x h of every row, summed before any pixel is read.
    """
    if total_pixels is None:
        total_pixels = _declared_pixels(images_df)
    skip = _stride(total_pixels, target_pixels)

    def kernel(batches):
        for pdf in batches:
            out = []
            for _, img in _decoded_rows(pdf, on_decode_error):
                nbands = img.shape[0]
                x = img.transpose(1, 2, 0).reshape(-1, nbands)
                npix = len(x)
                if img_null_val is not None:
                    x = x[(x != img_null_val).all(axis=1)]
                x = x[::skip]
                out.append({"sample": x.astype(np.float32).tobytes(),
                            "nbands": nbands, "npix": npix})
            yield pd.DataFrame(out, columns=["sample", "nbands", "npix"])

    return images_df.select("image_id", "bytes", "w", "h", "fmt") \
        .mapInPandas(kernel, "sample binary, nbands int, npix long")


def _sample_array(rows) -> np.ndarray:
    if not rows:
        raise ValueError("no images to sample")
    nbands = rows[0]["nbands"]
    return np.concatenate([np.frombuffer(r["sample"], dtype=np.float32)
                           .reshape(-1, nbands) for r in rows], axis=0)


def collect_sample(sample_df) -> np.ndarray:
    """Driver-side concat of the packed stride sample."""
    return _sample_array(sample_df.collect())


def global_sample(images_df, target_pixels: int,
                  img_null_val: int | None = None,
                  on_decode_error: str = "fail") -> np.ndarray:
    """The collected :func:`stride_sample_pixels` sample, strided by
    the pixels that decode. A row dropped under
    ``on_decode_error="skip"`` still counts toward the declared
    total, so when the decoded total (the sum of ``npix``) plans a
    different stride, the sample is taken again at that stride: it
    then equals the sample of the table without the dropped rows.
    When every row decodes, no job runs beyond the declared total and
    the one sample."""
    declared = _declared_pixels(images_df)
    rows = stride_sample_pixels(images_df, target_pixels, img_null_val,
                                on_decode_error, declared).collect()
    decoded = sum(r["npix"] for r in rows)
    if rows and _stride(decoded, target_pixels) != _stride(
            declared, target_pixels):
        rows = stride_sample_pixels(images_df, target_pixels,
                                    img_null_val, on_decode_error,
                                    decoded).collect()
    return _sample_array(rows)


def tile_metrics(seg_tiles_df):
    """Per-partition lineage/metrics rollup (north rule): per-tile
    kernel timings and segment counts aggregated per image."""
    from pyspark.sql import functions as F

    return (seg_tiles_df
            .groupBy("image_id")
            .agg(F.count("*").alias("n_tiles"),
                 F.sum("nseg").alias("n_local_segments"),
                 F.sum("n_single_elim").alias("n_single_elim"),
                 F.sum("n_small_elim").alias("n_small_elim"),
                 F.sum("seg_secs").alias("kernel_secs"),
                 F.max("seg_secs").alias("max_tile_secs")))


__all__ = ["tile_grid", "explode_tiles", "decode_tile_pixels",
           "stride_sample_pixels", "collect_sample", "global_sample",
           "morton_cell", "tile_metrics", "TILE_SCHEMA"]
