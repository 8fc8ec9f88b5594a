"""Zonal stats vs numpy oracle, subset roundtrip, spatial joins."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyshepseg_spark.operators.segment import assemble_image
from pyshepseg_spark.operators.spatial import (knn_segments_exact,
                                               point_in_segment,
                                               salt_count,
                                               segment_centroids)
from pyshepseg_spark.operators.spatialstats import (apply_segment_udf,
                                                    edge_pixels_udf,
                                                    mean_coords,
                                                    pixels_long,
                                                    variogram_udf)
from pyshepseg_spark.operators.subset import (assemble_subset,
                                              subset_segmentation)
from pyshepseg_spark.operators.zonal import (segment_stats,
                                             tile_value_histogram)
from pyshepseg_spark.sources.codec import decode_image
from pyshepseg_spark.sources.imagegen import caption_points
from tests.conftest import SIZE


def _image_and_seg(images_fixture, final_tiles, iid):
    pdf, _, _ = images_fixture
    row = pdf[pdf.image_id == iid].iloc[0]
    img = decode_image(row["bytes"], row["fmt"], row["w"], row["h"])
    fpdf = final_tiles.toPandas()
    seg = assemble_image(fpdf[fpdf.image_id == iid], row["w"],
                         row["h"])
    return img, seg


def test_zonal_stats_match_numpy(spark, images_fixture, final_tiles):
    """Exact finalizers: min/max/mean/pop-stddev/median/percentiles
    vs direct numpy on the assembled raster (the reference's
    SegmentStats semantics, tilingstats.py:922-1008)."""
    iid = "img_000000"
    img, seg = _image_and_seg(images_fixture, final_tiles, iid)
    hist = tile_value_histogram(final_tiles, img_null_val=65535)
    stats = segment_stats(hist, percentiles=(25, 50, 75)) \
        .filter((F.col("image_id") == iid) & (F.col("band") == 0)) \
        .toPandas()
    assert len(stats) == seg.max()
    for r in stats.itertuples(index=False):
        vals = img[0][seg == r.seg_id]
        vals = vals[vals != 65535].astype(np.float64)
        sv = np.sort(vals)

        def pct(p):
            # first value with cumulative count >= n*p/100
            # (tilingstats.py:979-986)
            target = len(sv) * p / 100.0
            idx = int(np.ceil(target)) - 1 if target > 0 else 0
            return sv[max(idx, 0)]

        assert r.min_val == vals.min()
        assert r.max_val == vals.max()
        assert np.isclose(r.mean_val, vals.mean())
        assert np.isclose(r.stddev_val, vals.std())
        assert r.pix_count == len(vals)
        assert r.p25_val == pct(25)
        assert r.p50_val == pct(50) == r.median_val
        assert r.p75_val == pct(75)
        # mode: max count, ties -> smallest value
        u, c = np.unique(vals, return_counts=True)
        assert r.mode_val == u[np.argmax(c)]


def test_mean_coords_match(spark, images_fixture, final_tiles):
    iid = "img_000001"
    _, seg = _image_and_seg(images_fixture, final_tiles, iid)
    pix = pixels_long(final_tiles)
    for gt in [(0.0, 1.0, 0.0, 0.0, 0.0, 1.0),
               (100.0, 2.0, 0.5, 50.0, 0.25, -1.0)]:  # rotated
        mc = mean_coords(pix, gt).filter(F.col("image_id") == iid) \
            .toPandas()
        assert len(mc) == seg.max()
        for r in mc.itertuples(index=False):
            yy, xx = np.nonzero(seg == r.seg_id)
            ex = gt[0] + xx * gt[1] + yy * gt[2]
            ny = gt[3] + xx * gt[4] + yy * gt[5]
            assert np.isclose(r.mean_easting, ex.mean(), atol=3e-4)
            assert np.isclose(r.mean_northing, ny.mean(), atol=3e-4)


def test_edge_pixels_udf(spark, final_tiles):
    pix = pixels_long(final_tiles).filter(
        (F.col("image_id") == "img_000000") & (F.col("seg_id") <= 2))
    f, sch = edge_pixels_udf(four_connected=True)
    out = apply_segment_udf(pix, f, sch).toPandas()
    assert len(out) == 2
    assert (out.num_edge_pixels > 0).all()


def test_variogram_flat_segments_zero(spark, final_tiles):
    pix = pixels_long(final_tiles).filter(
        (F.col("image_id") == "img_000000") & (F.col("seg_id") == 1))
    f, sch = variogram_udf(max_dist=2)
    out = apply_segment_udf(pix, f, sch).toPandas()
    # flat-colour fixture: zero variance at every lag
    assert np.allclose(out[["variogram_1", "variogram_2"]], 0.0)


def test_subset_roundtrip(spark, images_fixture, final_tiles):
    """Reference checkSubset (runtests.py:414-431): subset IDs
    restart at 1, mapping new->old exact."""
    q = SIZE // 4
    sub, mapping = subset_segmentation(final_tiles, q, q, 2 * q, 2 * q)
    sp = sub.toPandas()
    mp = mapping.toPandas()
    pdf, _, _ = images_fixture
    for iid in pdf.image_id:
        _, seg = _image_and_seg(images_fixture, final_tiles, iid)
        s = assemble_subset(sp[sp.image_id == iid], 2 * q, 2 * q)
        ids = np.unique(s[s > 0])
        assert ids.min() == 1 and ids.max() == len(ids)
        mm = mp[mp.image_id == iid]
        lut = dict(zip(mm.new_id, mm.orig_val))
        back = np.vectorize(lambda v: lut.get(v, 0))(s)
        assert np.array_equal(back, seg[q:3 * q, q:3 * q])


def test_point_in_segment_exact(spark, images_fixture, final_tiles,
                                cfg):
    pdf, _, _ = images_fixture
    pts = pd.concat([caption_points(r.image_id, r.caption, r.w, r.h)
                     for r in pdf.itertuples()], ignore_index=True)
    points = spark.createDataFrame(pts)
    out = point_in_segment(points, final_tiles, cfg.tile_size,
                           cfg.overlap).toPandas()
    assert len(out) == len(pts)
    for iid in pdf.image_id:
        _, seg = _image_and_seg(images_fixture, final_tiles, iid)
        for r in out[out.image_id == iid].itertuples(index=False):
            assert seg[int(r.y), int(r.x)] == r.seg_id


def test_point_in_segment_grids_param(spark, images_fixture,
                                      final_tiles, cfg):
    """r06: a caller-supplied closed-form (image_id, ntc, ntr) frame
    must give the exact same answers as the default derivation that
    aggregates over final_tiles (which re-runs the paint kernel)."""
    from pyshepseg_spark.operators.tiling import tile_grid
    pdf, _, _ = images_fixture
    pts = pd.concat([caption_points(r.image_id, r.caption, r.w, r.h)
                     for r in pdf.itertuples()], ignore_index=True)
    points = spark.createDataFrame(pts)
    grids = spark.createDataFrame(pd.DataFrame(
        [(r.image_id, *tile_grid(r.w, r.h, cfg.tile_size,
                                 cfg.overlap)[1:])
         for r in pdf.itertuples()], columns=["image_id", "ntc", "ntr"]))
    key = ["image_id", "point_id"]
    default = point_in_segment(points, final_tiles, cfg.tile_size,
                               cfg.overlap).toPandas() \
        .sort_values(key, ignore_index=True)
    closed = point_in_segment(points, final_tiles, cfg.tile_size,
                              cfg.overlap, grids=grids).toPandas() \
        .sort_values(key, ignore_index=True)
    pd.testing.assert_frame_equal(default, closed)


def test_salt_count_rule(spark):
    """min(cap, max(1, ceil(points / pixels))) per tile."""
    cases = [(1, 9216), (9216, 9216), (9217, 9216), (40_000, 9216),
             (10**6, 4096), (20, 3)]
    df = spark.createDataFrame(cases, "npoints long, npixels long")
    for cap, want in ((1, [1] * 6), (4, [1, 1, 2, 4, 4, 4]),
                      (16, [1, 1, 2, 5, 16, 7])):
        got = [r.n for r in df.select(salt_count(
            F.col("npoints"), F.col("npixels"), cap).alias("n"))
            .collect()]
        assert got == want


def test_point_in_segment_salted_equals_unsalted(spark, images_fixture,
                                                 final_tiles, cfg):
    """Load-based salting must not change any answer: a hot tile
    (more points than core pixels, so it spreads over several salts)
    plus the sparse caption points give the salt=1 answers. The
    points frame is a plain, unmaterialized plan, which
    point_in_segment reads more than once."""
    pdf, _, _ = images_fixture
    r0 = pdf.iloc[0]
    hot = caption_points(r0.image_id, r0.caption, 60, 60,
                         n_points=40_000)
    hot["point_id"] += 1_000
    pts = pd.concat([hot] + [caption_points(r.image_id, r.caption,
                                            r.w, r.h)
                             for r in pdf.itertuples()],
                    ignore_index=True)
    assert len(hot) > 2 * (cfg.tile_size - cfg.overlap) ** 2
    points = spark.createDataFrame(pts)
    key = ["image_id", "point_id"]
    salted = point_in_segment(points, final_tiles, cfg.tile_size,
                              cfg.overlap).toPandas() \
        .sort_values(key, ignore_index=True)
    single = point_in_segment(points, final_tiles, cfg.tile_size,
                              cfg.overlap, salt=1).toPandas() \
        .sort_values(key, ignore_index=True)
    assert len(salted) == len(pts)
    pd.testing.assert_frame_equal(salted, single)


def test_knn_matches_brute_force(spark, images_fixture, final_tiles):
    pdf, _, _ = images_fixture
    pts = pd.concat([caption_points(r.image_id, r.caption, r.w, r.h,
                                    n_points=8)
                     for r in pdf.itertuples()], ignore_index=True)
    points = spark.createDataFrame(pts)
    pix = pixels_long(final_tiles)
    cent = segment_centroids(pix)
    got = knn_segments_exact(points, cent, k=1, cell_size=32,
                             ring=1).toPandas()
    # ties break to the smallest seg_id, as argmin over sorted ids
    cents = cent.toPandas().sort_values("seg_id")
    for iid in pdf.image_id[:1]:
        cc = cents[cents.image_id == iid]
        for r in pts[pts.image_id == iid].itertuples(index=False):
            d = np.sqrt((cc.cx - r.x) ** 2 + (cc.cy - r.y) ** 2)
            best = cc.seg_id.to_numpy()[np.argmin(d.to_numpy())]
            g = got[(got.image_id == iid)
                    & (got.point_id == r.point_id)]
            assert len(g) == 1 and g.iloc[0].seg_id == best


def test_subset_with_mask(spark, images_fixture, final_tiles):
    """Mask filter: pixels where the mask is zero become null before
    the recode (reference subset.py:399-401)."""
    import numpy as np
    from pyshepseg_spark.operators.subset import subset_segmentation
    q = SIZE // 4

    def mask_fn(image_id, px, py, pw, ph):
        # keep only the left half of the subset window
        yy, xx = np.mgrid[py:py + ph, px:px + pw]
        return xx < q

    sub, mapping = subset_segmentation(final_tiles, q, q, 2 * q,
                                       2 * q, mask_fn=mask_fn)
    sp = sub.toPandas()
    pdf, _, _ = images_fixture
    iid = pdf.image_id.iloc[0]
    s = assemble_subset(sp[sp.image_id == iid], 2 * q, 2 * q)
    assert (s[:, q:] == 0).all()          # masked half nulled
    ids = np.unique(s[s > 0])
    assert len(ids) > 0 and ids.min() == 1 and ids.max() == len(ids)


def test_knn_points_exact_matches_brute_force(spark):
    """Exactness of the cell-grid kNN incl. the fallback: sparse
    site sets and clustered points force both code paths; result
    must equal the brute-force cross join for every point."""
    import numpy as np
    import pandas as pd
    from pyshepseg_spark.operators.spatial import knn_points_exact
    rng = np.random.default_rng(7)
    # clustered points + very sparse far-away sites => ring-1 cells
    # around many points are empty => fallback path exercised
    pts = pd.DataFrame({
        "pid": np.arange(200),
        "x": np.concatenate([rng.integers(0, 128, 150),
                             rng.integers(3000, 4000, 50)]),
        "y": np.concatenate([rng.integers(0, 128, 150),
                             rng.integers(3000, 4000, 50)])})
    sites = pd.DataFrame({
        "sid": np.arange(12),
        "x": rng.integers(0, 4096, 12),
        "y": rng.integers(0, 4096, 12)})
    p = spark.createDataFrame(pts)
    s = spark.createDataFrame(sites)
    got = knn_points_exact(p, s, k=3, cell_size=64, ring=1,
                           p_id="pid", s_id="sid") \
        .toPandas().sort_values(["point_id", "rank"],
                                ignore_index=True)
    # brute force oracle in numpy, same tie-break (d2, site_id)
    want = []
    for _, r in pts.iterrows():
        d2 = (sites.x - r.x) ** 2 + (sites.y - r.y) ** 2
        order = sorted(zip(d2, sites.sid))[:3]
        for rank, (d, sid) in enumerate(order, 1):
            want.append((r.pid, sid, d, rank))
    want = pd.DataFrame(want, columns=["point_id", "site_id", "d2",
                                       "rank"])
    assert len(got) == len(want)
    for c in want.columns:
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), c


def test_knn_segments_exact_grouped(spark):
    """Grouped (per-image) exact kNN must equal per-image brute
    force, including images whose centroids are sparse (fallback)."""
    import numpy as np
    import pandas as pd
    from pyshepseg_spark.operators.spatial import knn_segments_exact
    rng = np.random.default_rng(11)
    pts, cents = [], []
    for img, ncent in [("a", 20), ("b", 2)]:   # b forces fallback
        for pid in range(60):
            pts.append((img, pid, float(rng.integers(0, 512)),
                        float(rng.integers(0, 512))))
        for sid in range(1, ncent + 1):
            cents.append((img, sid, float(rng.integers(0, 512)),
                          float(rng.integers(0, 512))))
    p = spark.createDataFrame(
        pd.DataFrame(pts, columns=["image_id", "point_id", "x", "y"]))
    c = spark.createDataFrame(
        pd.DataFrame(cents, columns=["image_id", "seg_id", "cx",
                                     "cy"]))
    got = knn_segments_exact(p, c, k=3, cell_size=64, ring=1) \
        .toPandas().sort_values(["image_id", "point_id", "rank"],
                                ignore_index=True)
    want = []
    cdf = pd.DataFrame(cents, columns=["image_id", "seg_id", "cx",
                                       "cy"])
    for img, pid, x, y in pts:
        cc = cdf[cdf.image_id == img]
        d2 = (cc.cx - x) ** 2 + (cc.cy - y) ** 2
        order = sorted(zip(d2, cc.seg_id))[:3]
        for rank, (d, sid) in enumerate(order, 1):
            want.append((img, pid, sid, d, rank))
    want = pd.DataFrame(want, columns=["image_id", "point_id",
                                       "seg_id", "d2", "rank"])
    want = want.sort_values(["image_id", "point_id", "rank"],
                            ignore_index=True)
    assert len(got) == len(want)
    assert (got["seg_id"].to_numpy() == want["seg_id"].to_numpy()).all()
    assert np.allclose(got["d2"], want["d2"])


def test_segment_stats_selected_matches_segment_stats(spark):
    """The named-selection surface and the fixed finalizers derive
    from the same histogram: values must agree column for column,
    with caller-chosen names and reference dtypes."""
    import pandas as pd
    import pytest
    from pyshepseg_spark.operators.zonal import (segment_stats,
                                                 segment_stats_selected)
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({
        "image_id": "i", "seg_id": rng.integers(1, 9, 4000),
        "band": 0, "val": rng.integers(0, 300, 4000)})
    hist = (pdf.assign(cnt=1)
            .groupby(["image_id", "seg_id", "band", "val"],
                     as_index=False).agg(cnt=("cnt", "sum")))
    h = spark.createDataFrame(hist)
    sel = [("mn", "min"), ("q25", "percentile", 25),
           ("avgv", "mean"), ("sd", "stddev"), ("md", "mode"),
           ("med", "median"), ("n", "pixcount"), ("mx", "max")]
    got = segment_stats_selected(h, sel).toPandas() \
        .sort_values("seg_id", ignore_index=True)
    want = segment_stats(h, percentiles=(25, 50)).toPandas() \
        .sort_values("seg_id", ignore_index=True)
    pairs = [("mn", "min_val"), ("q25", "p25_val"),
             ("avgv", "mean_val"), ("sd", "stddev_val"),
             ("md", "mode_val"), ("med", "median_val"),
             ("n", "pix_count"), ("mx", "max_val")]
    for a, b in pairs:
        ga, wb = got[a].to_numpy(), want[b].to_numpy()
        if ga.dtype.kind == "f":
            assert np.allclose(ga, wb), (a, b)
        else:
            assert (ga == wb).all(), (a, b)
    assert got["mn"].dtype.kind == "i" and got["avgv"].dtype.kind == "f"
    with pytest.raises(ValueError, match="statName"):
        segment_stats_selected(h, [("x", "variance")])
    with pytest.raises(ValueError, match="percentile"):
        segment_stats_selected(h, [("x", "percentile")])
    with pytest.raises(ValueError, match="percentile"):
        segment_stats_selected(h, [("x", "percentile", 101)])


@pytest.mark.parametrize("nodata_val", [None, 7])
def test_stats_from_bins_equals_spark_bitwise(spark, nodata_val):
    """The numpy finalizer twin equals the JVM one exactly, floats
    included, on seeded random merged histograms with mode ties and
    single-bin segments, for every stat name (a caller-named
    ``median`` among them) and percentiles 0/25/50/75/100. With a
    nodata value it equals segment_nodata_counts joined to the stats
    of the valid bins, an all-nodata segment included. Every sum
    stays below 2^53, where double sums are exact in any order."""
    from pyshepseg_spark.operators.zonal import (segment_nodata_counts,
                                                 segment_stats_selected,
                                                 stats_from_bins)
    rng = np.random.default_rng(11)
    frames = []
    for image_id in ("a", "b"):
        for seg_id in range(1, 41):
            for band in (0, 2):
                nbins = 1 if seg_id % 9 == 0 else int(rng.integers(2, 60))
                vals = rng.choice(1 << 17, nbins, replace=False)
                if seg_id % 5 == 0:
                    vals[0] = 7
                frames.append(pd.DataFrame({
                    "image_id": image_id, "seg_id": seg_id,
                    "band": band, "val": vals,
                    # few distinct counts: many mode ties
                    "cnt": rng.integers(1, 4, nbins)}))
    frames.append(pd.DataFrame({   # all-nodata, and an explicit tie
        "image_id": "c", "seg_id": [1, 2, 2, 2], "band": 0,
        "val": [7, 9, 5, 3], "cnt": [4, 2, 2, 1]}))
    bins = pd.concat(frames, ignore_index=True).sample(frac=1,
                                                       random_state=3)
    bins["band"] = bins["band"].astype(np.int32)
    h = spark.createDataFrame(
        bins, "image_id string, seg_id long, band int, val long, "
              "cnt long")
    sel = [("mn", "min"), ("mx", "max"), ("avg", "mean"),
           ("sd", "stddev"), ("median", "median"), ("mo", "mode"),
           ("n", "pixcount")]
    sel += [(f"q{p}", "percentile", p) for p in (0, 25, 50, 75, 100)]
    key = ["image_id", "seg_id", "band"]
    got = stats_from_bins(bins, sel, nodata_val)
    if nodata_val is None:
        want = segment_stats_selected(h, sel)
    else:
        want = segment_nodata_counts(h, nodata_val).join(
            segment_stats_selected(h.filter(F.col("val") != nodata_val),
                                   sel), key, "left")
    want = want.toPandas().sort_values(key, ignore_index=True)
    got = got.sort_values(key, ignore_index=True)
    if nodata_val is not None:
        assert want["mn"].isna().sum() == 1
        # the nullable columns come back from Spark as float64
        got = got.astype(want.dtypes.to_dict())
    assert list(got.columns) == list(want.columns)
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    tie = got[(got.image_id == "c") & (got.seg_id == 2)]
    assert tie["mo"].tolist() == [5]
    with pytest.raises(ValueError, match="statName"):
        stats_from_bins(bins, [("x", "variance")])


@pytest.mark.parametrize("four_connected", [True, False])
def test_edge_pixels_tiled_equals_udf(spark, final_tiles,
                                      four_connected):
    """Tile-decomposed U3 (perimeter-only shuffle) == the per-segment
    UDF on the real multi-tile segmentation fixture, exactly."""
    from pyshepseg_spark.operators.spatialstats import (
        apply_segment_udf, edge_pixels_tiled, edge_pixels_udf,
        pixels_long)
    func, schema = edge_pixels_udf(four_connected=four_connected)
    want = apply_segment_udf(pixels_long(final_tiles), func, schema) \
        .toPandas().sort_values(["image_id", "seg_id"],
                                ignore_index=True)
    got = edge_pixels_tiled(final_tiles,
                            four_connected=four_connected) \
        .toPandas().sort_values(["image_id", "seg_id"],
                                ignore_index=True)
    assert len(got) == len(want)
    assert (got["seg_id"].to_numpy() == want["seg_id"].to_numpy()).all()
    assert (got["num_edge_pixels"].to_numpy()
            == want["num_edge_pixels"].to_numpy()).all()


def test_variogram_tiled_equals_udf(spark, final_tiles):
    """Tile-decomposed U1 == the per-segment UDF bitwise (dv2 sums of
    integer imagery are exact in float64, so tile decomposition
    cannot change the result)."""
    from pyshepseg_spark.operators.spatialstats import (
        apply_segment_udf, pixels_long, variogram_tiled,
        variogram_udf)
    func, schema = variogram_udf(max_dist=2)
    want = apply_segment_udf(pixels_long(final_tiles), func, schema) \
        .toPandas().sort_values(["image_id", "seg_id"],
                                ignore_index=True)
    got = variogram_tiled(final_tiles, max_dist=2) \
        .toPandas().sort_values(["image_id", "seg_id"],
                                ignore_index=True)
    assert len(got) == len(want)
    for c in ["variogram_1", "variogram_2"]:
        a = got[c].to_numpy(np.float64)
        b = want[c].to_numpy(np.float64)
        both_nan = np.isnan(a) & np.isnan(b)
        assert (both_nan | (a == b)).all(), c


def test_tiled_spatial_stats_leave_nothing_cached(spark, final_tiles):
    """edge_pixels_tiled and variogram_tiled read their kernel output
    three times; once the result is collected, none of it may stay in
    Spark's cache."""
    from pyshepseg_spark.operators.spatialstats import (
        edge_pixels_tiled, variogram_tiled)
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    try:
        assert cache.isEmpty()
        edge_pixels_tiled(final_tiles).collect()
        assert cache.isEmpty(), "edge_pixels_tiled left data cached"
        variogram_tiled(final_tiles, max_dist=2).collect()
        assert cache.isEmpty(), "variogram_tiled left data cached"
    finally:
        # other tests share the session fixture: cache it again
        final_tiles.cache().count()


def test_stats_selection_rejects_param_on_non_percentile(spark):
    from pyshepseg_spark.operators.zonal import segment_stats_selected
    hist = spark.createDataFrame(
        [("i", 1, 0, 5, 3)],
        "image_id string, seg_id long, band int, val long, cnt long")
    import pytest
    with pytest.raises(ValueError, match="third element"):
        segment_stats_selected(hist, [("x", "mean", 99)])


def test_giant_raster_mode_shared_centres(spark, images_fixture, cfg):
    """The giant-single-raster prepare mode (S2/S3): ONE global
    stride-sample k-means fit (fit_global_centres) broadcast to every
    tile kernel. All tiles of one image must then use identical
    centres — equivalent to the fused per-image path when the table
    holds a single image."""
    import pandas as pd
    from pyshepseg_spark.operators.segment import (
        assemble_image, fit_global_centres, segment_images_tiled)
    from pyshepseg_spark.operators.tiling import fit_image_centres
    from pyshepseg_spark.sources.codec import decode_image
    pdf, _, _ = images_fixture
    one = pdf.iloc[[0]]
    images = spark.createDataFrame(one)
    import dataclasses
    cfg1 = dataclasses.replace(
        cfg, num_clusters=int(one.iloc[0]["num_clusters"]))
    centres = fit_global_centres(images, cfg1)
    assert centres.shape == (cfg1.num_clusters, 3)
    final, _, _ = segment_images_tiled(
        images.drop("num_clusters"), cfg1, centres=centres)
    got = assemble_image(final.toPandas(), 256, 256)
    # fused per-image path on the same single image
    final2, _, _ = segment_images_tiled(images, cfg1)
    want = assemble_image(final2.toPandas(), 256, 256)
    # same pipeline, differently-derived centres (global stride vs
    # floored per-image sample) -> same segment STRUCTURE is not
    # guaranteed, but the global-centres run must itself be valid
    img = decode_image(one.iloc[0]["bytes"], one.iloc[0]["fmt"],
                       256, 256)
    from tests.conftest import reconstruction_fraction
    assert reconstruction_fraction(got, img) == 1.0
    assert got.max() > 0 and want.max() > 0


def test_seg_image_value_histogram_matches_driver_histogram(
        spark, images_fixture, cfg):
    """Stats-from-stored-rasters path: histogramming saved
    whole-image segmentations (seg_image_value_histogram join) must
    equal value_histogram over the collected rasters, computed on
    the driver."""
    from pyshepseg_spark.operators.segment import segment_images
    from pyshepseg_spark.operators.zonal import seg_image_value_histogram
    from tests.conftest import assert_driver_histogram
    pdf, _, images = images_fixture
    seg = segment_images(images, cfg).localCheckpoint()
    h1 = seg_image_value_histogram(seg, images, img_null_val=65535) \
        .toPandas()
    assert_driver_histogram(h1, seg.toPandas(), pdf, 65535)


def test_seg_image_value_histogram_rejects_fewer_value_bands(spark):
    """A values image with fewer bands than the segmentation row
    fails with an error naming the image, not a silent partial
    histogram."""
    from pyspark.errors import PythonException
    from pyshepseg_spark.operators.zonal import seg_image_value_histogram
    from pyshepseg_spark.sources.codec import encode_raw_u16
    seg = spark.createDataFrame(
        [("a", 4, 4, 3, np.ones(16, dtype="<i8").tobytes())],
        "image_id string, w int, h int, nbands int, segdata binary")
    img = np.arange(16, dtype=np.uint16).reshape(1, 4, 4)
    vals = spark.createDataFrame(
        [("a", 4, 4, encode_raw_u16(img), "raw_u16")],
        "image_id string, w int, h int, bytes binary, fmt string")
    with pytest.raises(PythonException, match="a: values image has 1"):
        seg_image_value_histogram(seg, vals).collect()


def test_fill_missing_stats_reports_missing_value(spark):
    """Segments with zero valid pixels report MISSING_STATS_VALUE
    and pix_count 0 (tilingstats.py:943-950)."""
    from pyshepseg_spark.constants import MISSING_STATS_VALUE
    from pyshepseg_spark.operators.zonal import (fill_missing_stats,
                                                 segment_stats)
    # segment 3 ties on count (7 and 3 both twice): the mode is the
    # smaller value (tilingstats.py:964)
    hist = spark.createDataFrame(
        [("i", 1, 0, 5, 3), ("i", 1, 0, 7, 1),
         ("i", 3, 0, 7, 2), ("i", 3, 0, 3, 2), ("i", 3, 0, 9, 1)],
        "image_id string, seg_id long, band int, val long, cnt long")
    stats = segment_stats(hist, percentiles=(50,))
    all_segs = spark.createDataFrame(
        [("i", 1), ("i", 2), ("i", 3)], "image_id string, seg_id long")
    out = {r["seg_id"]: r for r in
           fill_missing_stats(stats, all_segs).collect()}
    assert out[1]["pix_count"] == 4
    assert out[1]["mode_val"] == 5
    assert out[3]["mode_val"] == 3
    assert out[2]["pix_count"] == 0
    assert out[2]["mean_val"] == MISSING_STATS_VALUE
    assert out[2]["median_val"] == MISSING_STATS_VALUE


def test_cross_raster_zonal_alignment_guard(spark, images_fixture,
                                            cfg):
    """doImageAlignmentChecks analogue (tilingstats.py:409-463): a
    values table whose grid disagrees with the segmentation — or
    whose ids don't cover it — must fail FAST with a clear error
    naming the offenders, not die inside the decode kernel. An
    aligned cross-raster table (same grid, different values) passes
    and histograms fine."""
    import pytest
    from pyshepseg_spark.operators.segment import segment_images
    from pyshepseg_spark.operators.zonal import (
        check_image_alignment, seg_image_value_histogram)
    from pyshepseg_spark.sources.imagegen import generate_images_pdf
    _, _, images = images_fixture
    seg = segment_images(images, cfg).localCheckpoint()

    # aligned values table: same ids and grid, different pixel values
    # (regenerate with another seed but identical image_ids/size)
    pdf2 = generate_images_pdf(3, size=256, seed=77)
    vals = spark.createDataFrame(pdf2)
    h = seg_image_value_histogram(seg, vals, img_null_val=65535)
    assert h.count() > 0

    # misaligned grid: wrong size
    pdf3 = generate_images_pdf(3, size=128, seed=77)
    bad = spark.createDataFrame(pdf3)
    with pytest.raises(ValueError, match="not aligned"):
        check_image_alignment(seg, bad)
    with pytest.raises(ValueError, match="not aligned"):
        seg_image_value_histogram(seg, bad).count()

    # missing coverage: values table lacks one of the seg's images
    partial = spark.createDataFrame(pdf2.iloc[:2])
    with pytest.raises(ValueError, match="not aligned"):
        check_image_alignment(seg, partial)

    # values SUPERSET (ADVICE r4): extra values-only rows are benign
    # for the downstream inner join — warn by default, raise only
    # under strict=True, and the default histogram path still runs
    pdf4 = generate_images_pdf(4, size=256, seed=77)
    superset = spark.createDataFrame(pdf4)
    with pytest.warns(UserWarning, match="no segmentation row"):
        check_image_alignment(seg, superset)
    with pytest.raises(ValueError, match="no segmentation row"):
        check_image_alignment(seg, superset, strict=True)
    import warnings
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        h2 = seg_image_value_histogram(seg, superset,
                                       img_null_val=65535)
        assert h2.count() == h.count()
