"""Distributed Shepherd segmentation: per-tile kernels + boundary-
strip stitch.

Spark-first re-expression of the reference's tiled pipeline
(/root/reference/pyshepseg/tiling.py:446-1064):

  prepare   per-image (or global-sample) k-means centres — the
            cross-tile consistency device (tiling.py:13-16); fused
            into the tile kernel by default
  doOne     per-tile segmentation, mapInPandas — one row per tile, no
            shuffle, embarrassingly parallel (tiling.py worker loop)
  stitch    EXACT replay of the reference's order-dependent recode
            recurrence (stitchTiles/recodeTile/relabelSegments,
            tiling.py:950-1306) over boundary strips only —
            sequential_stitch_mapping streams each image's tiles
            row-major with a one-tile-row rolling cache, parallel
            across images, bitwise-equal mosaics on every input, and
            emits one lut per tile (local id -> final id)
  paint     paint_final_tiles joins each tile to its lut and paints
            lut[seg] over the trimmed core, as parallel as the tiles

Segment IDs: per-image int64, numbered by the stitch's running
maxSegId exactly as the reference does (tiling.py:979-1043). uint32
would overflow at 10^12-image scale (SURVEY.md §7 hard part 4);
global uniqueness is the composite (image_id, seg_id).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..constants import MAX_CLUMP_SIZE
from ..kernels.kmeans import fit_spectral_clusters_sample
from ..sources.codec import encode_raw_u16
from .tiling import (_image_columns, _image_rows, _shepherd,
                     decode_tile_pixels, explode_tiles, global_sample,
                     tile_grid)
from .zonal import group_starts, group_sums, value_histogram


@dataclass
class SegConfig:
    num_clusters: int = 60
    min_segment_size: int = 50
    max_spectral_diff: object = "auto"
    img_null_val: int | None = None
    four_connected: bool = True
    # True (engine default): deterministic diagonal-init Lloyd — the
    # reference test suite's fixedKMeansInit path, required for every
    # bitwise parity target. False: the reference's DEFAULT sklearn
    # behaviour (k-means++ seeding x kmeans_n_init runs, best
    # inertia kept), seeded for reproducibility here.
    fixed_kmeans_init: bool = True
    kmeans_n_init: int = 5
    # "fail" (default): a corrupt/undecodable image row raises, like
    # the reference. "skip": the kernel drops the row (it yields no
    # tiles / stats / raster) — at 10^12-image scale garbage rows
    # exist and must not kill the stage.
    on_decode_error: str = "fail"
    spect_dist_pcntile: int = 50
    max_clump_size: int = MAX_CLUMP_SIZE
    tile_size: int = 256
    overlap: int = 64
    sample_target_pixels: int = 1_000_000


SEG_TILE_SCHEMA = (
    "image_id string, tcol int, trow int, ntcols int, ntrows int, "
    "xpos int, ypos int, xsize int, ysize int, nbands int, "
    "pixels binary, segtile binary, nseg int, anchored array<long>, "
    "present array<long>, "
    "strip_top binary, strip_left binary, strip_bottom binary, "
    "strip_right binary, "
    "n_single_elim int, n_small_elim int, seg_secs double"
)


def fit_global_centres(images_df, cfg: SegConfig,
                       validate: bool = True) -> np.ndarray:
    """Prepare phase for the one-giant-raster scenario: deterministic
    global stride sample -> driver Lloyd fit (reference
    tiling.py:196-224). A table of independent images needs no
    prepare phase: each image's centres are fitted inside the
    segmentation kernel (tiling.fit_image_centres).

    validate=True runs the same S4 nodata discovery as
    segment_images_tiled's validate block BEFORE sampling: the
    reference's fitSpectralClustersWholeFile samples only non-null
    pixels, so fitting with an undiscovered null value would pin
    clusters to the nodata constant and silently degrade every
    downstream segmentation (driver ADVICE r4).

    The sample reads images under ``cfg.on_decode_error``, like every
    other image kernel, and is strided by the pixels that decode
    (tiling.global_sample)."""
    if validate and cfg.img_null_val is None:
        import dataclasses

        from .tiling import discover_img_null_val
        nv = discover_img_null_val(images_df)
        if nv is not None:
            cfg = dataclasses.replace(cfg, img_null_val=int(nv))
    x = global_sample(images_df, cfg.sample_target_pixels,
                      cfg.img_null_val, cfg.on_decode_error)
    return fit_spectral_clusters_sample(
        x, cfg.num_clusters, cfg.fixed_kmeans_init,
        n_init=cfg.kmeans_n_init)


def _trim_bounds(tc, tr, ntc, ntr, xs, ys, margin):
    """Per-tile trimmed-core bounds (reference tiling.py:996-1022)."""
    top = 0 if tr == 0 else margin
    left = 0 if tc == 0 else margin
    bottom = ys if tr == ntr - 1 else ys - margin
    right = xs if tc == ntc - 1 else xs - margin
    return top, bottom, left, right



SEG_COLUMNS = [
    "image_id", "tcol", "trow", "ntcols", "ntrows",
    "xpos", "ypos", "xsize", "ysize", "nbands", "pixels",
    "segtile", "nseg", "anchored", "present", "strip_top",
    "strip_left", "strip_bottom", "strip_right",
    "n_single_elim", "n_small_elim", "seg_secs"]


def _segment_tile_record(image_id, tcol, trow, ntcols, ntrows,
                         xpos, ypos, xsize, ysize, img, pixels_bytes,
                         centres, cfg, emit_hist=False,
                         keep_binaries=True):
    """Run the Shepherd kernel on one decoded tile and build the
    seg_tiles row (shared by the chained and the fused kernels).

    emit_hist=True additionally attaches the tile's trimmed-core
    (local_seg, band, value) histogram — computed here, while the
    decoded tile is already in cache — so a stats-only consumer
    never needs the pixel/segtile binaries again (keep_binaries=False
    then drops them from the row entirely: the checkpoint shrinks
    from O(pixels) to O(histogram bins + strips))."""
    overlap = cfg.overlap
    margin = overlap // 2
    t0 = time.time()
    res = _shepherd(img, centres, cfg)
    seg = res.segimg
    nseg = int(seg.max())
    top, bottom, left, right = _trim_bounds(
        tcol, trow, ntcols, ntrows, xsize, ysize, margin)
    anchored = []
    present = []
    if nseg > 0:
        rr, cc2 = np.nonzero(seg)
        ids = seg[rr, cc2].astype(np.int64)
        minr = np.full(nseg + 1, 1 << 30, dtype=np.int64)
        minc = np.full(nseg + 1, 1 << 30, dtype=np.int64)
        np.minimum.at(minr, ids, rr)
        np.minimum.at(minc, ids, cc2)
        sel = np.arange(1, nseg + 1)
        ok = ((minc[sel] >= left) & (minr[sel] >= top)
              & (minc[sel] < right) & (minr[sel] < bottom))
        anchored = sel[ok].tolist()
        # raw ids with >=1 pixel in the trimmed core: the sequential
        # stitch needs them to reproduce the reference's
        # maxSegId = max(maxSegId, tileDataTrimmed.max()) update
        # (tiling.py:1042-1043) — an anchored id CAN lie entirely in
        # the margins (L-shape across bbox mins), in which case the
        # reference does NOT advance maxSegId past it
        pr = np.unique(seg[top:bottom, left:right])
        present = pr[pr > 0].astype(np.int64).tolist()

    def strip(cond, arr):
        return (np.ascontiguousarray(arr).astype("<u4").tobytes()
                if cond else None)

    rec = {
        "image_id": image_id,
        "tcol": tcol, "trow": trow,
        "ntcols": ntcols, "ntrows": ntrows,
        "xpos": xpos, "ypos": ypos,
        "xsize": xsize, "ysize": ysize,
        "nbands": img.shape[0],
        "nseg": nseg,
        "anchored": anchored,
        "present": present,
        "strip_top": strip(trow > 0, seg[:overlap, :]),
        "strip_left": strip(tcol > 0, seg[:, :overlap]),
        "strip_bottom": strip(trow < ntrows - 1, seg[-overlap:, :]),
        "strip_right": strip(tcol < ntcols - 1, seg[:, -overlap:]),
        "n_single_elim": int(res.single_pixels_eliminated),
        "n_small_elim": int(res.small_segments_eliminated),
        "seg_secs": time.time() - t0,
    }
    if keep_binaries:
        rec["pixels"] = pixels_bytes
        rec["segtile"] = seg.astype("<u4").tobytes()
    if emit_hist:
        # trimmed-core FULL value histogram on LOCAL ids (nodata
        # bins kept, so the A4 counter derives from the same rows)
        hist = value_histogram(seg[top:bottom, left:right],
                               img[:, top:bottom, left:right])
        rec["hist"] = [
            {"local": s, "band": b, "val": v, "cnt": c}
            for s, b, v, c in zip(*(a.tolist() for a in hist))]
    return rec


HIST_STRUCT = (", hist array<struct<local:long, band:int, val:long, "
               "cnt:long>>")


def _seg_tile_schema(emit_hist: bool, keep_binaries: bool):
    s = SEG_TILE_SCHEMA
    cols = list(SEG_COLUMNS)
    if not keep_binaries:
        s = s.replace("pixels binary, segtile binary, ", "")
        cols = [c for c in cols if c not in ("pixels", "segtile")]
    if emit_hist:
        s += HIST_STRUCT
        cols.append("hist")
    return s, cols


def explode_and_segment(images_df, cfg: SegConfig,
                        emit_hist: bool = False,
                        keep_binaries: bool = True):
    """images -> seg_tiles in ONE mapInPandas kernel: decode each
    image once, fit its deterministic centres, cut overlapping tiles
    and run the Shepherd kernel per tile — the raw tile bytes never
    round-trip through Arrow between an explode stage and a segment
    stage (the chained explode_tiles -> segment_tiles path moves
    every tile JVM->Python->JVM->Python; at high core counts that
    memory traffic is the non-scaling fraction).

    emit_hist/keep_binaries: stats-only consumers set (True, False)
    so the kernel output carries per-tile core histograms instead of
    pixel/segtile binaries — the checkpoint and every downstream
    exchange then scale with histogram bins + strip bytes, not
    pixels."""
    schema, out_cols = _seg_tile_schema(emit_hist, keep_binaries)

    def kernel(batches):
        for pdf in batches:
            out = []
            for row, img, centres in _image_rows(pdf, cfg):
                tiles, ntcols, ntrows = tile_grid(
                    row.w, row.h, cfg.tile_size, cfg.overlap)
                for (tc, tr, xp, yp, xs, ys) in tiles:
                    sub = np.ascontiguousarray(
                        img[:, yp:yp + ys, xp:xp + xs])
                    out.append(_segment_tile_record(
                        row.image_id, tc, tr, ntcols, ntrows,
                        xp, yp, xs, ys, sub,
                        encode_raw_u16(sub) if keep_binaries
                        else None,
                        centres, cfg, emit_hist=emit_hist,
                        keep_binaries=keep_binaries))
            yield pd.DataFrame(out, columns=out_cols)

    return images_df.select(*_image_columns(images_df)).mapInPandas(
        kernel, schema)


def segment_tiles(tiles_df, centres, cfg: SegConfig,
                  emit_hist: bool = False,
                  keep_binaries: bool = True):
    """doOne phase: run the Shepherd kernel on every tile
    (mapInPandas; no shuffle). Emits local uint32 seg ids, the list
    of 'anchored' local ids (segments whose bbox min lies in the
    trimmed core — the reference's fresh-ID rule,
    tiling.py:1250-1267), the four boundary strips (so the stitch
    never re-reads the fat tile rows), and per-tile metrics for the
    lineage table.

    ``centres``: None when tiles_df carries each image's own
    ``centres`` column (``explode_tiles(fit_cfg=cfg)``), or one shared
    (k, nbands) numpy matrix (giant-single-raster mode, fitted by
    :func:`fit_global_centres`).

    emit_hist/keep_binaries mirror explode_and_segment: stats-only
    consumers set (True, False) so the kernel output carries per-tile
    core histograms instead of pixel/segtile binaries — the
    giant-single-raster stats path (segment_stats_tiled with shared
    centres) needs them here because it runs the UNFUSED kernel to
    spread one mosaic's tiles across the cluster."""
    if centres is not None:
        tiles_df = tiles_df.withColumn(
            "centres", F.lit(bytearray(centres.astype(
                "<f8").tobytes())))
    elif "centres" not in tiles_df.columns:
        raise ValueError("tiles_df lacks 'centres'; pass fit_cfg to "
                         "explode_tiles or supply centres")

    schema, out_cols = _seg_tile_schema(emit_hist, keep_binaries)

    def kernel(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                c = np.frombuffer(row.centres, dtype="<f8").reshape(
                    -1, row.nbands)
                img = decode_tile_pixels(row.pixels, row.nbands,
                                         row.ysize, row.xsize)
                out.append(_segment_tile_record(
                    row.image_id, row.tcol, row.trow, row.ntcols,
                    row.ntrows, row.xpos, row.ypos, row.xsize,
                    row.ysize, img, row.pixels, c, cfg,
                    emit_hist=emit_hist,
                    keep_binaries=keep_binaries))
            yield pd.DataFrame(out, columns=out_cols)

    return tiles_df.mapInPandas(kernel, schema)


def _recode_strip(overlap_a, overlap_b, axis, recode):
    """Replay of the reference's recodeSharedSegments
    (tiling.py:1129-1204) on one overlap strip pair: for every
    current-tile raw segment crossing the overlap midline, record the
    mode of the neighbour's RELABELED strip under its footprint
    (ties -> smallest value, scipy.stats.mode semantics; the null id
    0 participates and can win — the reference recodes such segments
    to null)."""
    n = 0 if axis == "H" else 1
    mid = overlap_a.shape[n] // 2
    flat = overlap_a.ravel()
    order = np.argsort(flat, kind="stable")
    svals = flat[order]
    nz = np.searchsorted(svals, 1)
    if nz == len(svals):
        return
    order, svals = order[nz:], svals[nz:]
    bounds = np.flatnonzero(np.diff(svals)) + 1
    starts = np.concatenate([[0], bounds])
    ends = np.concatenate([bounds, [len(svals)]])
    coords = (order // overlap_a.shape[1] if n == 0
              else order % overlap_a.shape[1])
    fb = overlap_b.ravel()
    for s, e in zip(starts, ends):
        cs = coords[s:e]
        if not (cs.min() < mid <= cs.max()):
            continue
        vals, cnts = np.unique(fb[order[s:e]], return_counts=True)
        recode[int(svals[s])] = int(vals[np.argmax(cnts)])


class _StitchReplay:
    """One image's state in the replay of the reference's sequential
    stitch: the previous tile row's relabelled bottom strips by
    ``tcol``, the previous tile's relabelled right strip and the
    running maxSegId. Tiles must arrive in (trow, tcol) order."""

    def __init__(self, overlap: int):
        self.overlap = overlap
        self.bottoms = {}
        self.right_rel = None
        self.maxseg = 0

    def lut(self, row):
        """The tile's local id -> final id lut (0 = unmapped); updates
        the strips and maxSegId for the tiles after it."""
        overlap = self.overlap
        rd = {}
        if row.trow > 0 and row.strip_top is not None:
            sa = np.frombuffer(row.strip_top, "<u4").reshape(
                overlap, row.xsize)
            _recode_strip(sa, self.bottoms[row.tcol], "H", rd)
        if row.tcol > 0 and row.strip_left is not None:
            sa = np.frombuffer(row.strip_left, "<u4").reshape(
                row.ysize, overlap)
            _recode_strip(sa, self.right_rel, "V", rd)
        lut = np.zeros(int(row.nseg) + 1, dtype=np.int64)
        if rd:
            lut[np.fromiter(rd.keys(), np.int64, len(rd))] = \
                np.fromiter(rd.values(), np.int64, len(rd))
        # fresh ids: ascending raw id over anchored-not-recoded
        # (segLoc insertion order == ascending id, shepseg.py
        # makeSegmentLocations)
        fresh = np.asarray(
            sorted(set(int(a) for a in row.anchored) - set(rd)),
            dtype=np.int64)
        lut[fresh] = self.maxseg + 1 + np.arange(len(fresh))
        present = np.asarray(row.present, dtype=np.int64)
        if len(present):
            self.maxseg = max(self.maxseg, int(lut[present].max()))
        if row.strip_bottom is not None:
            sb = np.frombuffer(row.strip_bottom, "<u4").reshape(
                overlap, row.xsize).astype(np.int64)
            self.bottoms[row.tcol] = lut[sb]
        if row.strip_right is not None:
            sr = np.frombuffer(row.strip_right, "<u4").reshape(
                row.ysize, overlap).astype(np.int64)
            self.right_rel = lut[sr]
        return lut


class _OffsetReplay:
    """One image's state in the simpleTileRecode mode (reference
    tiling.py:1024-1030): each tile's local ids are offset by the
    running sum of the earlier tiles' nseg, with no merge across
    tiles. Tiles must arrive in (trow, tcol) order."""

    def __init__(self, overlap: int):
        self.offset = 0

    def lut(self, row):
        n = int(row.nseg)
        lut = np.arange(self.offset, self.offset + n + 1, dtype=np.int64)
        lut[0] = 0
        self.offset += n
        return lut


STRIP_COLS = ["xsize", "ysize", "anchored", "present", "strip_top",
              "strip_left", "strip_bottom", "strip_right"]


def _stitch_input(seg_tiles, cols):
    """The tile rows of each image in one partition, (trow, tcol)
    order: the stitch's one exchange."""
    return (seg_tiles.select("image_id", "tcol", "trow", "nseg", *cols)
            .repartition("image_id")
            .sortWithinPartitions("image_id", "trow", "tcol"))


def _frames(out, columns):
    return (pd.concat(out, ignore_index=True) if out
            else pd.DataFrame(columns=columns))


LUT_SCHEMA = "image_id string, tcol int, trow int, lut binary"


def sequential_stitch_mapping(seg_tiles, overlap: int,
                              output: str = "lut",
                              simple_recode: bool = False):
    """Per-tile local id -> final id luts by EXACT replay of the
    reference's sequential stitch (stitchTiles + recodeTile +
    relabelSegments, tiling.py:950-1306) over boundary strips only.

    The recode recurrence is inherently order-dependent: tile
    (c, r) recodes against the already-relabelled strips of
    (c, r-1) and (c-1, r), modes are taken over FINAL neighbour ids,
    and a segment crossing both overlaps keeps only the left
    neighbour's recode (dict overwrite) — none of which an
    order-independent transitive closure reproduces in general (the
    closure merges the top and left targets; the reference keeps
    them distinct). So the engine evaluates the recurrence exactly,
    per image, while touching none of the pixel data:

    - input is the NARROW projection of the kernel rows (strips,
      anchored/present id lists, counts) — O(pixels * overlap /
      tile_size) bytes, never the tiles;
    - tiles are hash-partitioned by image and sorted (trow, tcol);
      the mapInPandas kernel streams them in row-major order keeping
      ONLY the previous tile-row's relabelled strips (O(image_width *
      overlap) state — a 100k-px-wide mosaic holds ~25 MB), so
      arbitrarily tall mosaics stream through bounded memory;
    - different images stitch in parallel (one sequential chain
      each, matching the reference's own per-raster sequential
      stitch); the pixel-heavy stages before (segment kernels) and
      after (paint / histogram) remain embarrassingly parallel.

    Returns one (image_id, tcol, trow, lut) row per tile: ``lut`` is
    the ``<i8`` array of the tile's final id by local id (length
    nseg + 1; 0 is the reference's SEGNULLVAL, for unanchored,
    unrecoded margins). The final ids carry the reference's running
    maxSegId, so no offset or id space exists outside the kernel.

    simple_recode=True replays the reference's simpleTileRecode mode
    instead (:class:`_OffsetReplay`): the lut is the running offset
    plus the local id, and only the tile key and nseg cross the
    exchange.

    output="hist": instead of luts, remap each tile's kernel-emitted
    core histogram (``hist`` column, LOCAL ids) through the lut
    in-kernel and emit the merged final-id value histogram
    (image_id, seg_id, band, val, cnt), one row per
    (image_id, seg_id, band, val): each segment's bins leave the
    kernel once, after the last tile row it can gain pixels in
    (:func:`_stitch_bins`). No checkpoint, no paint join, no
    explode.
    """
    if output == "hist":
        return _stitch_bins(seg_tiles, overlap, lambda bins: bins,
                            "image_id string, seg_id long, band int, "
                            "val long, cnt long")
    replay = _OffsetReplay if simple_recode else _StitchReplay
    df = _stitch_input(seg_tiles, [] if simple_recode else STRIP_COLS)
    cols = ["image_id", "tcol", "trow", "lut"]

    def kernel(batches):
        cur, rep = None, None
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                if row.image_id != cur:
                    cur, rep = row.image_id, replay(overlap)
                out.append((row.image_id, row.tcol, row.trow,
                            rep.lut(row).astype("<i8").tobytes()))
            yield pd.DataFrame(out, columns=cols)

    return df.mapInPandas(kernel, LUT_SCHEMA)


class _HeldBins:
    """One image's final-id value histogram while its stitch runs:
    remapped tile bins go in, and :meth:`release` merges them (sum of
    counts per (seg_id, band, val)) and hands out the segments that
    can gain no more pixels."""

    def __init__(self, image_id):
        self.image_id = image_id
        self.parts = []

    def add(self, lut, hist):
        if hist is None or not len(hist):
            return
        n = len(hist)
        fin = lut[np.fromiter((e["local"] for e in hist), np.int64, n)]
        keep = fin > 0
        if keep.any():
            self.parts.append(tuple(a[keep] for a in (
                fin,
                np.fromiter((e["band"] for e in hist), np.int64, n),
                np.fromiter((e["val"] for e in hist), np.int64, n),
                np.fromiter((e["cnt"] for e in hist), np.int64, n))))

    def release(self, open_ids=None):
        """The merged bins of every held segment not in ``open_ids``
        (all of them when None), as HIST_SCHEMA rows sorted by
        (seg_id, band, val); the open segments stay held, merged."""
        if not self.parts:
            return None
        seg, band, val, cnt = (np.concatenate(a)
                               for a in zip(*self.parts))
        order = np.lexsort((val, band, seg))
        seg, band, val, cnt = (a[order] for a in (seg, band, val, cnt))
        starts = group_starts(seg, band, val)
        seg, band, val = seg[starts], band[starts], val[starts]
        cnt = group_sums(cnt, starts)
        done = (np.ones(len(seg), dtype=bool) if open_ids is None
                else ~np.isin(seg, open_ids))
        self.parts = ([] if done.all() else
                      [tuple(a[~done] for a in (seg, band, val, cnt))])
        if not done.any():
            return None
        return pd.DataFrame({"image_id": self.image_id,
                             "seg_id": seg[done],
                             "band": band[done].astype(np.int32),
                             "val": val[done], "cnt": cnt[done]})


def _stitch_bins(seg_tiles, overlap: int, finish, schema: str):
    """The sequential stitch over tiles that carry their core
    histograms (``hist``, on local ids): each tile's bins are
    remapped through its lut and held, merged, per image. A final id
    can gain pixels in a later tile only if it is fresh there (then
    it is larger than every id so far) or carried through the
    relabelled bottom strips, so after the last tile of a tile row
    every held segment absent from those strips is complete, and at
    the image's last tile every segment is. ``finish`` runs on each
    released block (HIST_SCHEMA rows of one image, one row per
    (seg_id, band, val), every segment whole) inside the stitch task
    and returns rows of ``schema``. Memory holds one tile row's bins
    plus the segments still open, never the whole image's."""
    df = _stitch_input(seg_tiles,
                       STRIP_COLS + ["ntcols", "ntrows", "hist"])
    cols = [c.split()[0] for c in schema.split(", ")]

    def kernel(batches):
        cur, rep, held = None, None, None
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                if row.image_id != cur:
                    cur, rep = row.image_id, _StitchReplay(overlap)
                    held = _HeldBins(cur)
                held.add(rep.lut(row), row.hist)
                if row.tcol < row.ntcols - 1:
                    continue
                open_ids = (np.unique(np.concatenate(
                    [b.ravel() for b in rep.bottoms.values()]))
                    if row.trow < row.ntrows - 1 else None)
                block = held.release(open_ids)
                if block is not None:
                    out.append(finish(block))
            yield _frames(out, cols)

    return df.mapInPandas(kernel, schema)


FINAL_TILE_SCHEMA = (
    "image_id string, tcol int, trow int, xout int, yout int, "
    "out_xsize int, out_ysize int, nbands int, pixels binary, "
    "segdata binary, max_final long"
)


def paint_final_tiles(seg_tiles, luts, overlap: int,
                      keep_pixels: bool = True):
    """Paint each tile through its lut (:func:`sequential_stitch_mapping`)
    and trim it to its core (margin = overlap/2, mosaic edges
    untrimmed; tiling.py:959, 996-1022): ``lut[seg[core]]``.

    Scale note: the kernel rows join their luts on the tile key, so
    the paint stays as parallel as the kernel rows (never one task
    per image) and ships one lut row per tile — proportional to the
    tile's segment count, never to its pixels. Only the columns the
    paint reads leave the JVM.

    keep_pixels=False drops the pixels column from the output —
    segmentation-only consumers (the painted-mosaic sink, subset
    recodes) otherwise pay a second decode+memcpy+Arrow transfer of
    the full imagery just to discard it. The paint stage is
    memcpy-bound (PERF.md round-5 stage split), so this roughly
    halves its moved bytes AND the sink's written bytes; zonal stats
    on RESTORED final tiles need pixels, so the default keeps
    them."""
    margin = overlap // 2
    keys = ["image_id", "tcol", "trow"]
    # a left join: the planner may broadcast the luts, never the
    # pixel rows
    joined = seg_tiles.select(
        *keys, "ntcols", "ntrows", "xpos", "ypos", "xsize", "ysize",
        "nbands", *(["pixels"] if keep_pixels else []), "segtile",
    ).join(luts, keys, "left")
    schema = (FINAL_TILE_SCHEMA if keep_pixels
              else FINAL_TILE_SCHEMA.replace("pixels binary, ", ""))
    cols = [c.split()[0] for c in schema.split(", ")]

    def kernel(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                seg = np.frombuffer(row.segtile, dtype="<u4").reshape(
                    row.ysize, row.xsize)
                top, bottom, left, right = _trim_bounds(
                    row.tcol, row.trow, row.ntcols, row.ntrows,
                    row.xsize, row.ysize, margin)
                final = np.frombuffer(row.lut, dtype="<i8")[
                    seg[top:bottom, left:right]]
                rec = {
                    "image_id": row.image_id,
                    "tcol": row.tcol, "trow": row.trow,
                    "xout": row.xpos + left, "yout": row.ypos + top,
                    "out_xsize": right - left,
                    "out_ysize": bottom - top,
                    "nbands": row.nbands,
                    "segdata": final.tobytes(),
                    "max_final": int(final.max()) if final.size else 0,
                }
                if keep_pixels:
                    pix = decode_tile_pixels(row.pixels, row.nbands,
                                             row.ysize, row.xsize)
                    rec["pixels"] = np.ascontiguousarray(
                        pix[:, top:bottom, left:right].astype("<u2")
                    ).tobytes()
                out.append(rec)
            yield pd.DataFrame(out, columns=cols)

    return joined.mapInPandas(kernel, schema)


def _kernel_tiles(images_df, cfg: SegConfig, centres,
                  emit_hist: bool = False, keep_binaries: bool = True):
    """images -> seg_tiles for both forms of centres (the shared
    front half of segment_images_tiled and zonal.segment_stats_tiled).

    centres None: the fused path — decode + fit + tile + segment in
    ONE kernel pass (raw tiles never round-trip through Arrow);
    parallelism = image count, the many-images regime.

    A shared (k, nbands) matrix: the giant-single-raster mode. Tiling
    and segmentation are separate kernels so the tile rows can SPREAD
    between them — explode_tiles emits all of an image's tiles in the
    one partition that decoded it, and without the shuffle the
    segment kernel would run an entire mosaic serially.
    spread_small_scan is a no-op once input splits already provide
    parallelism (the 10^12-images regime), so the extra exchange is
    paid exactly when intra-image parallelism is the point."""
    if centres is None:
        return explode_and_segment(images_df, cfg, emit_hist=emit_hist,
                                   keep_binaries=keep_binaries)
    from .skew import spread_small_scan
    tiles = spread_small_scan(explode_tiles(
        images_df, cfg.tile_size, cfg.overlap,
        on_decode_error=cfg.on_decode_error))
    return segment_tiles(tiles, centres, cfg, emit_hist=emit_hist,
                         keep_binaries=keep_binaries)


def segment_images_tiled(images_df, cfg: SegConfig, centres=None,
                         validate: bool = True,
                         keep_pixels: bool = True):
    """Full pipeline: images -> final stitched seg tiles.

    Returns (final_tiles_df, seg_tiles_df, centres). seg_tiles_df is
    the checkpointable intermediate (S6) carrying per-tile lineage
    metrics. By default each image gets its own deterministic k-means
    fit; pass a shared (k, nbands) matrix for the giant-single-raster
    mode.

    validate=True runs the planner-side guards first: P5 integer-
    imagery check, and S4 nodata discovery from table metadata when
    cfg.img_null_val is unset (a wrong/missing null value silently
    corrupts every downstream stat).
    """
    if validate:
        import dataclasses

        from .tiling import assert_integer_imagery, discover_img_null_val
        assert_integer_imagery(images_df)
        if cfg.img_null_val is None:
            nv = discover_img_null_val(images_df)
            if nv is not None:
                cfg = dataclasses.replace(cfg, img_null_val=int(nv))
    seg_tiles = _kernel_tiles(images_df, cfg, centres)
    final = stitch(seg_tiles, cfg, keep_pixels=keep_pixels)
    return final, seg_tiles, centres


def stitch(seg_tiles, cfg: SegConfig, simple_recode: bool = False,
           keep_pixels: bool = True):
    """Stitch phase on a (possibly checkpoint-restored) seg_tiles.

    localCheckpoint materializes the expensive kernel output exactly
    once so the stitch consumers never re-run the segmentation (on a
    cluster this is the durable S6 checkpoint instead —
    plans/checkpoint.py). The checkpoint is read twice: by the stitch
    through its narrow projection, and by the paint.

    The luts are the exact replay of the reference's order-dependent
    recode recurrence over boundary strips
    (:func:`sequential_stitch_mapping`) — bitwise-equal mosaics to
    the reference on EVERY input, parallel across images, streaming
    within an image. Its repartition by image is the plan's one
    hash exchange; the paint joins the luts back by broadcast when
    they are small.

    simple_recode=True is the reference's simpleTileRecode mode
    (tiling.py:1024-1030): every tile's local IDs are just offset to
    be globally unique; boundary segments are NOT merged across
    tiles (faster, used when cross-tile consistency is not needed).
    The same stitch kernel emits its luts from the running nseg
    offset, with no strip replay."""
    st = seg_tiles.localCheckpoint()
    luts = sequential_stitch_mapping(st, cfg.overlap,
                                     simple_recode=simple_recode)
    return paint_final_tiles(st, luts, cfg.overlap,
                             keep_pixels=keep_pixels)


# ---------------------------------------------------------------------------
# whole-image fast path (the 10^12-image flagship: one tile per image)
# ---------------------------------------------------------------------------

SEG_IMAGE_SCHEMA = (
    "image_id string, w int, h int, nbands int, nseg long, "
    "segdata binary, n_single_elim int, n_small_elim int, "
    "seg_secs double"
)


def segment_images(images_df, cfg: SegConfig):
    """Segment each image as a single tile (mapInPandas, zero
    shuffle). The common path when individual images fit a worker —
    at 10^12-image scale parallelism comes from the image count, and
    tiling is reserved for oversized rasters. Each image is read by
    tiling._image_rows (its own centre fit, the same as the tiled
    path's, so both give identical results on images that fit one
    tile); seg_secs times the Shepherd kernel alone, as in the
    tiled rows."""

    def kernel(batches):
        for pdf in batches:
            out = []
            for row, img, centres in _image_rows(pdf, cfg):
                t0 = time.time()
                res = _shepherd(img, centres, cfg)
                seg = res.segimg.astype("<i8")
                out.append({
                    "image_id": row.image_id,
                    "w": row.w, "h": row.h, "nbands": img.shape[0],
                    "nseg": int(seg.max()),
                    "segdata": seg.tobytes(),
                    "n_single_elim": int(res.single_pixels_eliminated),
                    "n_small_elim": int(res.small_segments_eliminated),
                    "seg_secs": time.time() - t0,
                })
            yield pd.DataFrame(out, columns=[
                "image_id", "w", "h", "nbands", "nseg", "segdata",
                "n_single_elim", "n_small_elim", "seg_secs"])

    return images_df.select(*_image_columns(images_df)).mapInPandas(
        kernel, SEG_IMAGE_SCHEMA)


def assemble_image(final_tiles_pdf: pd.DataFrame, w: int, h: int):
    """Driver/test helper: paste trimmed tiles into a full (h, w)
    int64 raster (the trimmed cores tile the mosaic disjointly)."""
    out = np.zeros((h, w), dtype=np.int64)
    for row in final_tiles_pdf.itertuples(index=False):
        arr = np.frombuffer(row.segdata, dtype="<i8").reshape(
            row.out_ysize, row.out_xsize)
        out[row.yout:row.yout + row.out_ysize,
            row.xout:row.xout + row.out_xsize] = arr
    return out


__all__ = ["SegConfig", "fit_global_centres", "segment_tiles",
           "sequential_stitch_mapping", "paint_final_tiles",
           "segment_images_tiled", "stitch", "segment_images",
           "assemble_image"]
