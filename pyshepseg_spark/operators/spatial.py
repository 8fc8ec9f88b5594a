"""Spatial-join layer: cell index, point-in-segment join, kNN.

North-star extensions (BASELINE.json north_star; no reference
analogue — SURVEY.md J5): on top of the tile/segment layer the engine
answers

  - point-in-segment ("point-in-polygon" against the segment
    partition, which *is* a polygonal partition of the image): an
    equi-join of each point to the unique trimmed tile containing it
    (computed by grid arithmetic — no range join, no skew) followed
    by a vectorized raster-probe kernel.
  - kNN segment lookups: points join segment centroids through a
    Morton cell grid with ring expansion, then a row_number window
    keeps the k nearest. Salting/AQE note: candidate lists are
    bounded by cell occupancy; hot cells split by AQE skew join.

Cells are Z-order (Morton) keys — the engine's H3/S2 analogue for
per-image pixel space (public bit-interleaving technique).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F


def cell_expr(xcol, ycol, shift: int = 6, bits: int = 12):
    """Morton cell id of a point at resolution 2^shift px, as a pure
    column expression (JVM-side, no UDF)."""
    x = (F.col(xcol).cast("long") / (1 << shift)).cast("long")
    y = (F.col(ycol).cast("long") / (1 << shift)).cast("long")
    cell = F.lit(0).cast("long")
    for i in range(bits):
        cell = cell.bitwiseOR(
            F.shiftleft(F.shiftright(x, i) % 2, 2 * i).cast("long")
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y, i) % 2, 2 * i + 1).cast("long"))
    return cell


def tile_for_point(xcol, ycol, tile_size, overlap, ntc, ntr):
    """(tcol, trow) of the trimmed tile containing a pixel — closed
    form from the grid parameters, so point->tile is an equi-join."""
    step = tile_size - overlap
    margin = overlap // 2
    tc = F.floor((F.col(xcol) - F.lit(margin)) / F.lit(step))
    tr = F.floor((F.col(ycol) - F.lit(margin)) / F.lit(step))
    tc = F.greatest(F.lit(0), F.least(tc, ntc - F.lit(1)))
    tr = F.greatest(F.lit(0), F.least(tr, ntr - F.lit(1)))
    return tc.cast("int"), tr.cast("int")


def salt_count(npoints, npixels, cap: int):
    """Salts for one tile: min(cap, max(1, ceil(points / pixels))).

    A heuristic: a tile spreads only once it holds more probes than
    raster pixels; below that, one task probes its single copy."""
    return F.least(F.lit(cap), F.greatest(
        F.lit(1), F.ceil(npoints / npixels))).cast("int")


def point_in_segment(points, final_tiles, tile_size, overlap,
                     salt: int = 16, grids=None):
    """Join each point (image_id, x, y, ...) to the segment covering
    it. Steps: grid arithmetic -> salted COGROUP on (image_id, tcol,
    trow, salt) -> vectorized raster probe.

    Skew design: a per-tile group would serialize every probe that
    lands on a hot tile into ONE task. Instead tile t gets
    ``salt_count(points(t), (tile_size - overlap) ** 2, salt)`` salts
    (the pixels of an interior tile's trimmed core), its points are
    salted by ``pmod(xxhash64(point_id), nsalt(t))`` and its raster
    is replicated across those subkeys, so a hot tile's probes run in
    up to ``salt`` parallel tasks while a tile with fewer probes than
    pixels ships its raster once. Cogrouping (not joining) keeps the
    raster out of the per-point rows: each task receives the tile
    bytes ONCE plus its point batch — the shuffle is |points| +
    sum(nsalt) * |tile|, never |points| x |raster|. Tiles without
    points are not shipped at all.

    ``points`` is read more than once (per-tile counts, then the
    salted rows), so it must be deterministic: a point salted past
    its tile's raster copies would silently get no answer. Pass a
    materialized frame when its plan is costly.

    ``grids``: optional (image_id, ntc, ntr) frame with the tile-grid
    dimensions per image. It must come from the same ``tile_size``,
    ``overlap`` and image set as ``final_tiles``. When the caller
    knows them in closed form (tiling.tile_grid arithmetic over each
    image's w/h — the same recurrence that produced final_tiles),
    passing them avoids the default derivation below, which
    aggregates over final_tiles and therefore re-runs its full
    producing plan (paint + stitch-mapping mapInPandas kernels —
    column pruning cannot reach inside a Python kernel) once more per
    consumer."""
    if grids is None:
        grids = final_tiles.groupBy("image_id").agg(
            (F.max("tcol") + 1).alias("ntc"),
            (F.max("trow") + 1).alias("ntr"))
    # no forced broadcast: grids is one row PER IMAGE — at 10^12
    # images a forced broadcast is a driver OOM; AQE broadcasts it
    # when genuinely small
    p = points.join(grids, "image_id")
    tc, tr = tile_for_point("x", "y", tile_size, overlap,
                            F.col("ntc"), F.col("ntr"))
    p = (p.withColumn("tcol", tc).withColumn("trow", tr)
         .select("image_id", "tcol", "trow", "point_id", "x", "y"))
    tkey = ["image_id", "tcol", "trow"]
    nsalt = p.groupBy(*tkey).agg(salt_count(
        F.count("*"), F.lit((tile_size - overlap) ** 2), salt)
        .alias("nsalt"))
    p = (p.join(nsalt, tkey)
         .withColumn("salt", F.pmod(F.xxhash64("point_id"),
                                    F.col("nsalt")).cast("int"))
         .drop("nsalt"))
    t = (final_tiles.select(*tkey, "xout", "yout", "out_xsize",
                            "out_ysize", "segdata")
         .join(nsalt, tkey)
         .withColumn("salt", F.explode(F.sequence(
             F.lit(0).cast("int"), F.col("nsalt") - 1)))
         .drop("nsalt"))

    out_schema = ("image_id string, point_id long, x double, "
                  "y double, seg_id long")
    empty = pd.DataFrame(columns=["image_id", "point_id", "x", "y",
                                  "seg_id"])

    def kernel(pts: pd.DataFrame, tiles: pd.DataFrame) -> pd.DataFrame:
        if len(pts) == 0 or len(tiles) == 0:
            return empty
        first = tiles.iloc[0]
        seg = np.frombuffer(first["segdata"], dtype="<i8").reshape(
            first["out_ysize"], first["out_xsize"])
        xs = pts["x"].to_numpy(np.float64)
        ys = pts["y"].to_numpy(np.float64)
        # pixel = (floor(y), floor(x)); a probe outside the image
        # (equivalently outside its clamped tile's core — the trimmed
        # cores tile the image exactly) answers the null segment id 0
        # (the reference's SEGNULLVAL convention), never the nearest
        # border pixel's segment
        gx = np.floor(xs).astype(np.int64) - int(first["xout"])
        gy = np.floor(ys).astype(np.int64) - int(first["yout"])
        ok = ((gx >= 0) & (gx < seg.shape[1])
              & (gy >= 0) & (gy < seg.shape[0]))
        ix = np.clip(gx, 0, seg.shape[1] - 1)
        iy = np.clip(gy, 0, seg.shape[0] - 1)
        return pd.DataFrame({
            "image_id": pts["image_id"],
            "point_id": pts["point_id"],
            "x": xs, "y": ys,
            "seg_id": np.where(ok, seg[iy, ix], 0)})

    keys = ["image_id", "tcol", "trow", "salt"]
    return (p.groupBy(*keys)
            .cogroup(t.groupBy(*keys))
            .applyInPandas(kernel, out_schema))


def segment_centroids(pixels):
    """Per-segment centroid + pixel count from the long pixel table
    (pure aggregation)."""
    return (pixels.groupBy("image_id", "seg_id")
            .agg(F.avg("x").alias("cx"), F.avg("y").alias("cy"),
                 F.count("*").alias("npix")))


def _neighbour_cells(cell_col, ring: int, shift: int, bits: int):
    """Explode a centroid row into its (2*ring+1)^2 neighbourhood of
    cells (cell-ring expansion for the kNN candidate join)."""
    # decode x/y from morton then re-encode neighbours; done as a
    # pandas UDF once per centroid row (tiny table), keeping the big
    # point side pure-SQL.
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("array<long>")
    def nbrs(c: pd.Series) -> pd.Series:
        def decode(v):
            x = y = 0
            for i in range(bits):
                x |= ((v >> (2 * i)) & 1) << i
                y |= ((v >> (2 * i + 1)) & 1) << i
            return x, y

        def encode(x, y):
            v = 0
            for i in range(bits):
                v |= ((x >> i) & 1) << (2 * i)
                v |= ((y >> i) & 1) << (2 * i + 1)
            return v

        out = []
        for v in c:
            x, y = decode(int(v))
            cells = []
            for dx in range(-ring, ring + 1):
                for dy in range(-ring, ring + 1):
                    nx, ny = x + dx, y + dy
                    if nx >= 0 and ny >= 0:
                        cells.append(encode(nx, ny))
            out.append(cells)
        return pd.Series(out)

    return nbrs(cell_col)


def range_join(points, intervals, point_id="point_id", v="v",
               interval_id="interval_id", lo="lo", hi="hi",
               bucket: int = 64):
    """Interval-containment join without the quadratic theta join:
    each interval is exploded into the buckets it overlaps, points
    equi-join on their single bucket, then an exact between-refine.
    Shuffle is proportional to interval-length/bucket, never
    |points| x |intervals| (the classic range-join bucketing that
    Spark's optimizer does not do for you)."""
    ivl = (intervals.select(
            F.col(interval_id).alias("interval_id"),
            F.col(lo).alias("lo"), F.col(hi).alias("hi"))
           .withColumn("bucket", F.explode(F.sequence(
               F.floor(F.col("lo") / bucket),
               F.floor(F.col("hi") / bucket)))))
    p = points.select(F.col(point_id).alias("point_id"),
                      F.col(v).alias("v")) \
        .withColumn("bucket", F.floor(F.col("v") / bucket))
    return (p.join(ivl, "bucket")
            .filter((F.col("v") >= F.col("lo"))
                    & (F.col("v") <= F.col("hi")))
            .select("point_id", "interval_id", "v", "lo", "hi"))


def knn_points_exact(points, sites, k: int = 3, cell_size: int = 64,
                     ring: int = 1, p_id="point_id", s_id="site_id",
                     px="x", py="y", sx="x", sy="y",
                     group_cols=()):
    """EXACT kNN join (points x sites), scale-safe:

    1. Candidate pass: each site is exploded into its (2*ring+1)^2
       neighbouring grid cells (pure SQL explode — the site side is
       the smaller dimension table), points equi-join on (cellx,
       celly), a row_number window keeps the k nearest (ties broken
       by site id).
    2. Exactness guarantee: a site outside the ring neighbourhood of
       a point's cell is strictly further than ring*cell_size, so a
       point whose kth candidate lies within that bound is provably
       exact. The (few) points that fail the bound — sparse regions,
       image borders — are re-answered by a broadcast join against
       the full site table and unioned back.

    The shuffle is proportional to candidate count (cell occupancy x
    points), never |points| x |sites|; the fallback is broadcast and
    only touches the sparse tail. Distances are compared as squared
    sums, exact for integer coordinates (d2 column in the output)."""
    g = list(group_cols)
    r = F.sequence(F.lit(-ring), F.lit(ring))
    s = (sites.select(
            *g, F.col(s_id).alias("site_id"),
            F.col(sx).alias("sx"), F.col(sy).alias("sy"))
         .withColumn("dx", F.explode(r))
         .withColumn("dy", F.explode(r))
         .withColumn("cellx",
                     (F.floor(F.col("sx") / cell_size) + F.col("dx"))
                     .cast("long"))
         .withColumn("celly",
                     (F.floor(F.col("sy") / cell_size) + F.col("dy"))
                     .cast("long"))
         .drop("dx", "dy"))
    from .skew import spread_small_scan
    p = spread_small_scan(points).select(
        *g, F.col(p_id).alias("point_id"),
        F.col(px).alias("x_"), F.col(py).alias("y_"),
        F.floor(F.col(px) / cell_size).cast("long").alias("cellx"),
        F.floor(F.col(py) / cell_size).cast("long").alias("celly"))
    d2 = ((F.col("x_") - F.col("sx")) * (F.col("x_") - F.col("sx"))
          + (F.col("y_") - F.col("sy")) * (F.col("y_") - F.col("sy")))
    pkey = g + ["point_id"]
    w = Window.partitionBy(*pkey).orderBy(
        F.col("d2").asc(), F.col("site_id").asc())
    # rank + per-point completeness stats in one shuffle: the second
    # window reuses the point partitioning, so the candidate join is
    # shuffled exactly once (ReusedExchange for both consumers)
    wpt = Window.partitionBy(*pkey)
    bound2 = (ring * cell_size) ** 2
    # sites scale with the site table (segment centroids at
    # 10^12-image scale): let AQE pick broadcast vs shuffle.
    # r06: candidates beyond the provable bound are dropped BEFORE
    # the rank window (the expensive exchange+sort). Provably
    # result-identical: every in-bound candidate is nearer than any
    # out-of-bound one, so (a) a point with >= k in-bound candidates
    # has its top-k unchanged and passes `ok` either way, and (b) a
    # point with < k in-bound candidates fails `ok` either way
    # (before: its top-k contained an out-of-bound d2 > bound2;
    # after: count < k) and is re-answered by the fallback. The
    # window now shuffles ~points x ring-occupancy rows instead of
    # every cell-ring pair (sf1.0: 2.6M vs 13M rows).
    cand = (p.join(s, g + ["cellx", "celly"])
            .withColumn("d2", d2)
            .filter(F.col("d2") <= bound2)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn("ok", (F.count("*").over(wpt) >= k)
                        & (F.max("d2").over(wpt) <= bound2)))
    # NB: `exact` feeds both the fallback's anti-join id list and
    # the output union, but the rank-window exchange is shared via
    # ReusedExchange — an explicit barrier here was MEASURED to
    # cost more than it saves (r06 A/B: 2.16 s -> 2.40 s)
    exact = cand.filter(F.col("ok"))
    # fallback: provable-exactness failed (or zero candidates) ->
    # full broadcast join for the affected points only
    ok = exact.select(*pkey).distinct()
    # ok scales with POINT count — never force-broadcast it
    fb_pts = p.join(ok, pkey, "left_anti")
    s_all = sites.select(*g, F.col(s_id).alias("site_id"),
                         F.col(sx).alias("sx"), F.col(sy).alias("sy"))
    if g:
        fb = fb_pts.join(s_all, g)
    else:
        fb = fb_pts.crossJoin(s_all)
    fb = (fb.withColumn("d2", d2)
          .withColumn("rank", F.row_number().over(w))
          .filter(F.col("rank") <= k))
    cols = pkey + ["site_id", "d2", "rank"]
    return exact.select(*cols).unionByName(fb.select(*cols))


def knn_segments_exact(points, centroids, k: int = 3,
                       cell_size: int = 64, ring: int = 1):
    """Exact k nearest segment centroids per point (J5), grouped per
    image — the provably-exact upgrade of knn_segments (same
    candidate strategy, plus the bound check + fallback)."""
    out = knn_points_exact(
        points, centroids, k=k, cell_size=cell_size, ring=ring,
        p_id="point_id", s_id="seg_id", px="x", py="y",
        sx="cx", sy="cy", group_cols=("image_id",))
    return out.withColumnRenamed("site_id", "seg_id")


def knn_segments(points, centroids, k: int = 3, ring: int = 2,
                 shift: int = 6, bits: int = 12):
    """k nearest segment centroids per point: cell-ring candidate
    equi-join + row_number window (SURVEY.md J5). Points whose ring
    holds fewer than k centroids get fewer rows (callers widen the
    ring if exactness at the tail matters)."""
    c = centroids.withColumn("cell", cell_expr("cx", "cy", shift, bits))
    c = c.withColumn("cells", _neighbour_cells(
        F.col("cell"), ring, shift, bits))
    c = c.select("image_id", "seg_id", "cx", "cy",
                 F.explode("cells").alias("cell"))
    p = points.withColumn("cell", cell_expr("x", "y", shift, bits))
    cand = p.join(c, ["image_id", "cell"])
    d2 = (F.pow(F.col("x") - F.col("cx"), 2)
          + F.pow(F.col("y") - F.col("cy"), 2))
    cand = cand.withColumn("dist", F.sqrt(d2))
    w = Window.partitionBy("image_id", "point_id") \
        .orderBy(F.col("dist").asc(), F.col("seg_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("image_id", "point_id", "x", "y", "seg_id",
                    "dist", "rank"))
