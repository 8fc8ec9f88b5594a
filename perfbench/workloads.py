"""The benchmark's workloads: inputs generated from the seed, one op
through the engine's public functions (untraced and traced), and the
checks on each op's output.

zonal_many  -- many independent images: operators.zonal.
               segment_stats_tiled over a batch of seeded 512^2 3-band
               PNG16 images (per-image k-means fit inside the fused
               kernel). kernels.shepherd and sources.codec do the work.
mosaic_join -- one seeded raster: segment.fit_global_centres ->
               segment.segment_images_tiled(centres=...) ->
               spatial.point_in_segment on seeded points plus
               out-of-image probes -> zonal.segment_sizes. The driver
               k-means fit, stitch + paint and the salted cogroup
               join do the work.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from pyshepseg_spark.constants import IMG_NULL_VAL
from pyshepseg_spark.kernels.kmeans import fit_spectral_clusters_sample
from pyshepseg_spark.kernels.shepherd import do_shepherd_segmentation
from pyshepseg_spark.operators.segment import (
    SegConfig, explode_and_segment, fit_global_centres, segment_images_tiled,
    segment_tiles, sequential_stitch_mapping, stitch)
from pyshepseg_spark.operators.skew import spread_small_scan
from pyshepseg_spark.operators.spatial import point_in_segment
from pyshepseg_spark.operators.tiling import (
    assert_integer_imagery, collect_sample, explode_tiles, stride_sample_pixels,
    tile_grid)
from pyshepseg_spark.operators.zonal import (segment_sizes, segment_stats,
                                             segment_stats_tiled)
from pyshepseg_spark.sources.codec import decode_image
from pyshepseg_spark.sources.imagegen import (NULL_MARGIN, caption_points,
                                              generate_image)

# Input sizes. "default" is what the benchmark measures; "tiny" only
# exists so the smoke test can run every workload in seconds.
SCALES = {
    "default": {
        "zonal_many": {"pool": 24, "batch": 6, "size": 512,
                       "regions_min": 12, "regions_span": 13, "tile": 256,
                       "overlap": 64},
        "mosaic_join": {"size": 768, "regions": 20, "k": 30,
                        "sample": 20_000, "points": 10_000, "probes": 64,
                        "tile": 256, "overlap": 64},
    },
    "tiny": {
        "zonal_many": {"pool": 4, "batch": 2, "size": 128,
                       "regions_min": 12, "regions_span": 13, "tile": 64,
                       "overlap": 16},
        "mosaic_join": {"size": 256, "regions": 8, "k": 8,
                        "sample": 20_000, "points": 500, "probes": 8,
                        "tile": 64, "overlap": 16},
    },
}

# values painted by imagegen.make_pallete lie in this range
PALETTE_MIN, PALETTE_MAX = 500, 9500


def _decode(row):
    return decode_image(row.bytes, row.fmt, int(row.w), int(row.h))


def _seg_kernel(tile, centres, cfg):
    """The per-tile kernel call of operators.segment, Spark-free."""
    return do_shepherd_segmentation(
        tile, min_segment_size=cfg.min_segment_size,
        max_spectral_diff=cfg.max_spectral_diff,
        img_null_val=cfg.img_null_val, four_connected=cfg.four_connected,
        centres=centres, spect_dist_pcntile=cfg.spect_dist_pcntile,
        max_clump_size=cfg.max_clump_size)


def _cut_tiles(img, cfg):
    tiles, _, _ = tile_grid(img.shape[2], img.shape[1], cfg.tile_size,
                            cfg.overlap)
    return [np.ascontiguousarray(img[:, y:y + ys, x:x + xs])
            for (_, _, x, y, xs, ys) in tiles]


def _image_sample(img, k, null_val):
    """The strided non-null sample operators.tiling.fit_image_centres
    fits each image's centres on."""
    x = img.transpose(1, 2, 0).reshape(-1, img.shape[0])
    x = x[(x != null_val).all(axis=1)]
    target = min(len(x), max(len(x) // 100, k * 200, 2000))
    return x[::max(1, len(x) // target)].astype(np.float64)


POOL_SCHEMA = ("image_id string, bytes binary, w int, h int, fmt string, "
               "caption string, phash long, num_clusters int")


def _image_batch(spark, p, seed, first, step):
    """Rows of imagegen.images_spark_df's table (num_clusters = the
    region count) for pool images first, first + step, ..., generated
    on the executors, one image per partition. images_spark_df draws
    each image's region count from 12..24 with the seed; here image i
    has regions_min + i % regions_span regions, so every seed's pool
    holds the same mix of k, which the per-image fit and the kernel
    depend on."""
    size, lo, span = p["size"], p["regions_min"], p["regions_span"]

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                k = lo + int(i) % span
                row, _ = generate_image(int(i), size=size, seed=seed, k=k)
                row["num_clusters"] = np.int32(k)
                rows.append(row)
            yield pd.DataFrame(rows)

    return spark.range(first, p["pool"], step, p["batch"]) \
        .mapInPandas(gen, POOL_SCHEMA)


class ZonalMany:
    """Each workload class builds its fixture from the seed and offers
    `n_inputs` distinct op inputs (cycled), `work(i)` (tiles per op),
    `run` and `run_traced` (a dict of pandas outputs) and `check`,
    plus the Spark-free kernel inputs `kernel_tiles` [(tile, centres)],
    `kmeans_samples` [(x, k)] and `payloads` [rows] for the layer
    microbenches."""

    name = "zonal_many"

    def __init__(self, spark, seed: int, scale: str = "default"):
        p = SCALES[scale][self.name]
        self.config = dict(p)
        self.cfg = SegConfig(img_null_val=IMG_NULL_VAL, tile_size=p["tile"],
                             overlap=p["overlap"])
        # batch b holds pool images b, b + n_inputs, ..., one image per
        # partition, as if each were its own input file: the fused
        # per-image kernel then runs as one task per image, and a core
        # slowed by the host takes fewer of them
        self.n_inputs = p["pool"] // p["batch"]
        self.frames = [_image_batch(spark, p, seed, b, self.n_inputs)
                       .localCheckpoint() for b in range(self.n_inputs)]
        pdfs = [f.toPandas() for f in self.frames]
        self.batches = [list(pdf.image_id) for pdf in pdfs]
        meta = pd.concat(pdfs, ignore_index=True)
        self.meta = meta.set_index("image_id", drop=False)
        self.tiles = [sum(len(tile_grid(int(self.meta.w[i]),
                                        int(self.meta.h[i]), p["tile"],
                                        p["overlap"])[0]) for i in b)
                      for b in self.batches]

    def fixture_sizes(self):
        return {"pool_images": len(self.meta),
                "batch_images": len(self.batches[0]),
                "image_px": int(self.meta.w.iloc[0]) * int(self.meta.h.iloc[0]),
                "pool_png_bytes": int(self.meta.bytes.map(len).sum()),
                "tiles_per_op": self.tiles}

    def work(self, i):
        return self.tiles[i]

    def run(self, i):
        return {"stats": segment_stats_tiled(self.frames[i],
                                             self.cfg).toPandas()}

    def run_traced(self, i, tracer, op):
        """segment_stats_tiled's steps, one public call per span, each
        output materialized before the next span starts."""
        cfg = self.cfg
        with tracer.span(self.name + ".op", op):
            with tracer.span("operators.segment.explode_and_segment", op):
                st = explode_and_segment(self.frames[i], cfg, emit_hist=True,
                                         keep_binaries=False).localCheckpoint()
            with tracer.span("operators.segment.sequential_stitch_mapping",
                             op):
                part = sequential_stitch_mapping(
                    st, cfg.overlap, output="hist").localCheckpoint()
            with tracer.span("operators.zonal.segment_stats", op):
                hist = (part.groupBy("image_id", "seg_id", "band", "val")
                        .agg(F.sum("cnt").alias("cnt"))
                        .filter(F.col("val") != cfg.img_null_val))
                stats = segment_stats(hist).toPandas()
        return {"stats": stats}

    def check(self, i, out) -> list[str]:
        s = out["stats"]
        errs = []
        want = set(self.batches[i])
        if set(s.image_id) != want:
            errs.append(f"images {sorted(set(s.image_id) ^ want)} missing "
                        "or unexpected")
        if len(s) == 0:
            return errs + ["no stats rows"]
        if (s.seg_id < 1).any():
            errs.append("seg_id < 1")
        if ((s.min_val < PALETTE_MIN) | (s.max_val > PALETTE_MAX)).any():
            errs.append("stat values outside the generator's palette")
        if ((s.min_val > s.median_val) | (s.median_val > s.max_val)
                | (s.mean_val < s.min_val - 1e-6)
                | (s.mean_val > s.max_val + 1e-6)
                | (s.stddev_val < 0)).any():
            errs.append("min <= median, mean <= max or stddev >= 0 broken")
        n = s.groupby(["image_id", "band"]).pix_count.sum()
        for img in want:
            w, h = int(self.meta.w[img]), int(self.meta.h[img])
            valid = (w - 2 * NULL_MARGIN) * (h - 2 * NULL_MARGIN)
            per_band = [int(n.get((img, b), -1)) for b in range(3)]
            # the reference-exact stitch can leave a few valid pixels at
            # segment 0, so the segmented count may fall short of the
            # generator's non-null count but never exceed it
            if len(set(per_band)) != 1 or not 0 < per_band[0] <= valid:
                errs.append(f"{img}: pix_count per band {per_band}, "
                            f"non-null pixels {valid}")
        return errs

    def kernel_tiles(self):
        out = []
        for img_id in self.batches[0][:2]:
            row = self.meta.loc[img_id]
            img = _decode(row)
            k = int(row.num_clusters)
            centres = fit_spectral_clusters_sample(
                _image_sample(img, k, IMG_NULL_VAL), k)
            out += [(t, centres) for t in _cut_tiles(img, self.cfg)]
        return out

    def kmeans_samples(self):
        out = []
        for img_id in self.batches[0]:
            row = self.meta.loc[img_id]
            k = int(row.num_clusters)
            out.append((_image_sample(_decode(row), k, IMG_NULL_VAL), k))
        return out

    def payloads(self):
        return [self.meta.loc[i] for i in self.batches[0]]


class MosaicJoin:
    name = "mosaic_join"
    n_inputs = 1

    def __init__(self, spark, seed: int, scale: str = "default"):
        p = SCALES[scale][self.name]
        self.config = dict(p)
        self.cfg = SegConfig(img_null_val=IMG_NULL_VAL, num_clusters=p["k"],
                             sample_target_pixels=p["sample"],
                             tile_size=p["tile"], overlap=p["overlap"])
        # a fixed region count: the seed moves the geometry and the
        # palette, but the driver k-means fit, whose iteration count
        # follows the content, stays about as long on every seed
        row, self.truth = generate_image(0, size=p["size"], seed=seed,
                                         k=p["regions"])
        self.row = pd.Series(row)
        self.images = spark.createDataFrame(
            pd.DataFrame([row])).localCheckpoint()
        w = h = p["size"]
        pts = caption_points(row["image_id"], row["caption"], w, h,
                             n_points=p["points"], seed=seed)
        # probes just outside the raster on every side must answer 0
        rng = np.random.default_rng(seed)
        n = p["probes"]
        side = rng.integers(0, 4, n)
        along = rng.uniform(0, w, n)
        off = rng.uniform(0.5, 32, n)
        px = np.select([side == 0, side == 1], [-off, w + off - 0.5], along)
        py = np.select([side == 2, side == 3], [-off, h + off - 0.5], along)
        probes = pd.DataFrame({
            "image_id": row["image_id"],
            "point_id": np.arange(len(pts), len(pts) + n, dtype=np.int64),
            "x": px, "y": py, "token": "probe"})
        pts = pd.concat([pts, probes], ignore_index=True)
        ix = np.floor(pts.x.to_numpy()).astype(np.int64)
        iy = np.floor(pts.y.to_numpy()).astype(np.int64)
        inside = (ix >= 0) & (ix < w) & (iy >= 0) & (iy < h)
        null = ~inside
        null[inside] = self.truth[iy[inside], ix[inside]] == 0
        self.null_points = set(pts.point_id[null])
        self.point_ids = set(pts.point_id)
        self.points = spark.createDataFrame(pts).repartition(4) \
            .localCheckpoint()
        self.valid_px = int((self.truth > 0).sum())
        self.n_tiles = len(tile_grid(w, h, p["tile"], p["overlap"])[0])
        self._sample = None

    def fixture_sizes(self):
        return {"raster_px": int(self.truth.size),
                "raster_png_bytes": len(self.row["bytes"]),
                "tiles_per_op": self.n_tiles,
                "points": len(self.point_ids),
                "null_points": len(self.null_points)}

    def work(self, i):
        return self.n_tiles

    def _probe(self, final):
        cfg = self.cfg
        return point_in_segment(self.points, final, cfg.tile_size,
                                cfg.overlap).toPandas()

    def run(self, i):
        c = fit_global_centres(self.images, self.cfg)
        final, _, _ = segment_images_tiled(self.images, self.cfg, centres=c,
                                           keep_pixels=False)
        # two consumers follow: materialize the mosaic once
        final = final.localCheckpoint()
        return {"points": self._probe(final),
                "sizes": segment_sizes(final).toPandas()}

    def run_traced(self, i, tracer, op):
        """segment_images_tiled's steps, one public call per span."""
        cfg = self.cfg
        with tracer.span(self.name + ".op", op):
            with tracer.span("operators.segment.fit_global_centres", op):
                c = fit_global_centres(self.images, cfg)
            with tracer.span("operators.segment.segment_tiles", op):
                assert_integer_imagery(self.images)
                tiles = spread_small_scan(
                    explode_tiles(self.images, cfg.tile_size, cfg.overlap))
                st = segment_tiles(tiles, c, cfg).localCheckpoint()
            with tracer.span("operators.segment.stitch", op):
                final = stitch(st, cfg, keep_pixels=False).localCheckpoint()
            with tracer.span("operators.spatial.point_in_segment", op):
                pts = self._probe(final)
            with tracer.span("operators.zonal.segment_sizes", op):
                sizes = segment_sizes(final).toPandas()
        return {"points": pts, "sizes": sizes}

    def check(self, i, out) -> list[str]:
        pts, sizes = out["points"], out["sizes"]
        errs = []
        if len(pts) != len(self.point_ids) \
                or set(pts.point_id) != self.point_ids:
            errs.append(f"{len(pts)} answers for {len(self.point_ids)} "
                        "points, or ids differ")
        null = pts.point_id.isin(self.null_points)
        if (pts.seg_id[null] != 0).any():
            errs.append("a point in the null margin or outside the raster "
                        "got a segment")
        known = set(sizes.seg_id)
        hit = set(pts.seg_id[pts.seg_id != 0])
        if (pts.seg_id < 0).any() or not hit <= known:
            errs.append("a point answered a segment segment_sizes lacks")
        if sizes.seg_id.duplicated().any() or (sizes.seg_id < 1).any() \
                or (sizes.cnt < 1).any():
            errs.append("segment_sizes ids not unique positive, or a "
                        "count < 1")
        total = int(sizes.cnt.sum())
        # see ZonalMany.check: segmented pixels never exceed valid ones
        if not 0 < total <= self.valid_px:
            errs.append(f"segment_sizes sum {total}, non-null pixels "
                        f"{self.valid_px}")
        return errs

    def _global_sample(self):
        if self._sample is None:
            self._sample = collect_sample(stride_sample_pixels(
                self.images, self.cfg.sample_target_pixels,
                self.cfg.img_null_val)).astype(np.float64)
        return self._sample

    def kernel_tiles(self):
        centres = fit_spectral_clusters_sample(self._global_sample(),
                                               self.cfg.num_clusters)
        tiles = _cut_tiles(_decode(self.row), self.cfg)
        return [(t, centres) for t in tiles[:8]]

    def kmeans_samples(self):
        return [(self._global_sample(), self.cfg.num_clusters)]

    def payloads(self):
        return [self.row]


WORKLOADS = {w.name: w for w in (ZonalMany, MosaicJoin)}


def shepherd_mpx_per_s(tiles, cfg) -> float:
    """Spark-free Shepherd kernel throughput on one core."""
    px, secs = 0, 0.0
    for tile, centres in tiles:
        t = time.perf_counter()
        _seg_kernel(tile, centres, cfg)
        secs += time.perf_counter() - t
        px += tile.shape[1] * tile.shape[2]
    return px / secs / 1e6


def kmeans_fit_s(samples) -> float:
    t = time.perf_counter()
    for x, k in samples:
        fit_spectral_clusters_sample(x, k)
    return time.perf_counter() - t


def decode_mb_per_s(rows) -> float:
    """Decoded raster bytes per second of the PNG16 payloads."""
    nbytes, secs = 0, 0.0
    for row in rows:
        t = time.perf_counter()
        img = _decode(row)
        secs += time.perf_counter() - t
        nbytes += img.nbytes
    return nbytes / secs / 1e6
