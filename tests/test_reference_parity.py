"""Run the ACTUAL reference implementation (pure-Python, numba/
sklearn stubbed to no-ops) against the engine's Shepherd kernel on
identical arrays with identical cluster centres: the north-star's
"bitwise tile assignments plus allclose segment rasters versus the
reference" check, in-process.

The container has no numba/sklearn/GDAL, so the reference's jitted
functions execute as plain Python — semantically identical, just
slow — which is why the images here are small.
"""

import numpy as np
import pytest

from pyshepseg_spark.refharness import import_reference
from tests.conftest import requires_reference

pytestmark = requires_reference(
    "kernel: test_property_kernels.py::test_clump_equals_sequential_dfs;"
    " zonal: test_zonal_stats_match_numpy; subset: test_subset_roundtrip;"
    " stitch: test_stitched_mosaic_regression_anchor (an engine"
    " regression anchor, not reference parity); spatial UDFs:"
    " test_variogram_tiled_equals_udf, test_edge_pixels_tiled_equals_udf;"
    " global-stats estimate: none")


@pytest.fixture(scope="module")
def refseg():
    return import_reference()[0]


@pytest.mark.parametrize("seed,four", [(0, False), (1, True)])
def test_kernel_bitwise_matches_reference(refseg, seed, four):
    """Identical centres in -> bitwise-identical segment raster out
    (clump scan order + MAX_CLUMP_SIZE cap, single-pixel fixpoint,
    small-segment elimination passes, relabel)."""
    from pyshepseg_spark.kernels.kmeans import fit_spectral_clusters
    from pyshepseg_spark.kernels.shepherd import do_shepherd_segmentation
    from pyshepseg_spark.sources.codec import decode_image
    from pyshepseg_spark.sources.imagegen import generate_image

    row, _ = generate_image(seed, size=96, k=8)
    img = decode_image(row["bytes"], row["fmt"], row["w"], row["h"])
    centres = fit_spectral_clusters(img, 8, 100.0, 65535, True)

    mine = do_shepherd_segmentation(
        img, num_clusters=8, centres=centres, min_segment_size=50,
        max_spectral_diff="auto", img_null_val=65535,
        four_connected=four)

    class _KM:
        """Fitted-KMeans stand-in: argmin of squared distance, same
        tie-break as sklearn's predict (first minimum)."""
        cluster_centers_ = centres

        def predict(self, x):
            d = ((x[:, None, :].astype(np.float64)
                  - centres[None, :, :]) ** 2).sum(axis=2)
            return np.argmin(d, axis=1)

    km = _KM()
    ref = refseg.doShepherdSegmentation(
        img, numClusters=8, kmeansObj=km, minSegmentSize=50,
        maxSpectralDiff="auto", imgNullVal=65535, fourConnected=four)

    a = np.asarray(mine.segimg, dtype=np.int64)
    b = np.asarray(ref.segimg, dtype=np.int64)
    assert a.shape == b.shape
    frac = (a == b).mean()
    assert frac == 1.0, f"segment rasters differ on {1-frac:.4%} px"
    assert float(mine.max_spectral_diff) == pytest.approx(
        float(ref.maxSpectralDiff))


@pytest.fixture(scope="module")
def refstats(refseg):
    import pyshepseg.tilingstats as ts
    return ts


def test_zonal_stats_match_reference_accumulator(refstats, spark):
    """The engine's segment_stats finalizers vs the reference's
    accumulateSegDict + SegmentStats on the same (seg, img) arrays:
    integer stats (min/max/mode/median/percentile/pixcount) exact,
    float stats allclose (reference spec stores float32)."""
    import pandas as pd
    from pyshepseg_spark.operators.zonal import segment_stats
    from pyshepseg_spark.sources.codec import decode_image
    from pyshepseg_spark.sources.imagegen import generate_image

    row, truth = generate_image(3, size=96, k=8)
    img = decode_image(row["bytes"], row["fmt"], row["w"], row["h"])
    band = img[0].astype(np.int64)
    seg = truth.astype(np.uint32)  # voronoi truth as the seg raster
    # plant nodata INSIDE segments so the A4 counter has work to do
    band[40:52, 10:70] = 65535

    # reference accumulation (one tile = whole image)
    ts = refstats
    segDict = ts.createSegDict()
    noDataDict = ts.createNoDataDict()
    ts.accumulateSegDict(segDict, noDataDict, 65535, seg, band)
    ref_rows = []
    for segid, hist in segDict.items():
        s = ts.SegmentStats(hist, -9999)
        ref_rows.append({
            "seg_id": int(segid), "pix_count": int(s.pixCount),
            "min_val": int(s.min), "max_val": int(s.max),
            "mean_val": float(s.mean), "stddev_val": float(s.stddev),
            "mode_val": int(s.mode), "median_val": int(s.median),
            "p25_val": int(s.getPercentile(25))})
    ref_df = pd.DataFrame(ref_rows).sort_values(
        "seg_id", ignore_index=True)

    # engine: histogram from the same arrays -> segment_stats
    valid = (seg.ravel() > 0) & (band.ravel() != 65535)
    hist_pdf = (pd.DataFrame({
        "image_id": "img", "seg_id": seg.ravel()[valid].astype("int64"),
        "band": 0, "val": band.ravel()[valid], "cnt": 1})
        .groupby(["image_id", "seg_id", "band", "val"], as_index=False)
        .agg(cnt=("cnt", "sum")))
    got = segment_stats(spark.createDataFrame(hist_pdf),
                        percentiles=(25, 50)).toPandas() \
        .sort_values("seg_id", ignore_index=True)

    # reference keeps all-nodata segments (pixCount 0) — engine drops
    # them from the histogram; compare the common set
    ref_df = ref_df[ref_df.pix_count > 0].reset_index(drop=True)
    assert list(got["seg_id"]) == list(ref_df["seg_id"])
    for c in ["pix_count", "min_val", "max_val", "mode_val",
              "median_val", "p25_val"]:
        assert (got[c].to_numpy() == ref_df[c].to_numpy()).all(), c
    assert np.allclose(got["mean_val"], ref_df["mean_val"], rtol=1e-5)
    assert np.allclose(got["stddev_val"], ref_df["stddev_val"],
                       rtol=1e-4, atol=1e-4)

    # A4: engine nodata counts == the reference's noDataDict, exactly
    from pyshepseg_spark.operators.zonal import segment_nodata_counts
    assert len(noDataDict) > 0  # the planted block hit >= 1 segment
    sv = seg.ravel() > 0
    full_pdf = (pd.DataFrame({
        "image_id": "img", "seg_id": seg.ravel()[sv].astype("int64"),
        "band": 0, "val": band.ravel()[sv], "cnt": 1})
        .groupby(["image_id", "seg_id", "band", "val"], as_index=False)
        .agg(cnt=("cnt", "sum")))
    nd = segment_nodata_counts(
        spark.createDataFrame(full_pdf), img_null_val=65535) \
        .toPandas().set_index("seg_id")
    ref_nd = {int(k): int(v) for k, v in noDataDict.items()}
    for segid in segDict:
        assert int(nd.loc[int(segid), "nodata_cnt"]) == \
            ref_nd.get(int(segid), 0)


def test_global_stats_match_reference_estimate(refseg, spark):
    """A7: global_stats_from_histogram vs the reference's
    estimateStatsFromHisto (utils.py:47-95) on the same histogram;
    the reference writes stats into band metadata, captured by a
    stub band object."""
    import pandas as pd
    import pyshepseg.utils as refutils
    from pyshepseg_spark.operators.zonal import global_stats_from_histogram

    rng = np.random.default_rng(5)
    nseg = 40
    hist = np.zeros(nseg + 1, dtype=np.int64)
    hist[1:] = rng.integers(0, 500, nseg)
    hist[7] = 0          # an empty segment id inside the range

    class _Band:
        DataType = 0     # integer-typed band (not in gdalFloatTypes)
        md = {}

        def SetMetadataItem(self, k, v):
            self.md[k] = v

    band = _Band()
    refutils.estimateStatsFromHisto(band, hist)

    sizes = pd.DataFrame({
        "image_id": "img",
        "seg_id": np.arange(nseg + 1)[hist > 0],
        "cnt": hist[hist > 0]})
    got = global_stats_from_histogram(
        spark.createDataFrame(sizes)).collect()[0]

    md = band.md
    assert got.min_seg == int(md["STATISTICS_MINIMUM"])
    assert got.max_seg == int(md["STATISTICS_MAXIMUM"])
    assert got.mode_seg == int(md["STATISTICS_MODE"])
    assert got.median_seg == int(md["STATISTICS_MEDIAN"])
    assert got.mean_seg == pytest.approx(
        float(md["STATISTICS_MEAN"]), rel=1e-12)
    assert got.pix_count == int(hist.sum())


def test_subset_recode_matches_reference(refseg, spark, final_tiles,
                                         images_fixture):
    """W3/J4: the engine's subset first-touch recode vs the actual
    reference processSubsetTile (subset.py:367-424) on the same
    cropped raster (single tile = whole window, mask included)."""
    import pyshepseg.subset as refsub
    from pyspark.sql import functions as F
    from pyshepseg_spark.operators.segment import assemble_image
    from pyshepseg_spark.operators.subset import (assemble_subset,
                                                  subset_segmentation)
    from tests.conftest import SIZE

    q = SIZE // 4
    x0 = y0 = q
    w = h = 2 * q

    def mask_fn(image_id, px, py, pw, ph):
        yy, xx = np.mgrid[py:py + ph, px:px + pw]
        return (xx + yy) % 5 != 0          # punch periodic holes

    sub, mapping = subset_segmentation(final_tiles, x0, y0, w, h,
                                       mask_fn=mask_fn)
    sp = sub.toPandas()
    pdf, _, _ = images_fixture
    for iid in pdf.image_id:
        row = pdf[pdf.image_id == iid].iloc[0]
        fpdf = final_tiles.toPandas()
        seg_full = assemble_image(fpdf[fpdf.image_id == iid],
                                  row["w"], row["h"])
        crop = seg_full[y0:y0 + h, x0:x0 + w].astype(np.uint32)
        # mask_fn coordinates are window-relative (px/py are piece
        # offsets within the subset window)
        mask = mask_fn(iid, 0, 0, w, h).astype(np.int64)
        recodeDict, histDict = {}, {}
        ref_out = refsub.processSubsetTile(crop, recodeDict,
                                           histDict, mask)
        got = assemble_subset(sp[sp.image_id == iid], w, h)
        assert (got == np.asarray(ref_out, dtype=np.int64)).all(), iid
        # J4 mapping equals the reference recodeDict
        m = mapping.filter(F.col("image_id") == iid).toPandas()
        ref_map = {int(k): int(v) for k, v in recodeDict.items()}
        got_map = dict(zip(m.orig_val.astype(int),
                           m.new_id.astype(int)))
        assert got_map == ref_map, iid


def test_stitch_matches_reference_sequential(refseg, spark,
                                             images_fixture, cfg,
                                             final_tiles):
    """J1/J2/W2 stitch parity: replay the reference's SEQUENTIAL
    stitch (recodeSharedSegments mode rule + relabelSegments
    anchored-ID assignment + running-max offsets, tiling.py:950-1064)
    over the engine's own per-tile kernel outputs, and require the
    mosaic to equal the engine's order-independent CC-based stitch
    bitwise — the core claim that the distributed fixpoint reproduces
    the reference's sequential chaining."""
    import pyshepseg.tiling as reftiling
    from pyshepseg_spark.operators.segment import (assemble_image,
                                                   segment_images_tiled)
    from tests.conftest import SIZE

    pdf, _, images = images_fixture
    _, seg_tiles, _ = segment_images_tiled(images, cfg)
    stp = seg_tiles.toPandas()
    fpdf = final_tiles.toPandas()
    Mgr = reftiling.SegmentationConcurrencyMgr
    overlap = cfg.overlap
    margin = overlap // 2

    for iid in pdf.image_id:
        tiles = stp[stp.image_id == iid]
        ntc = int(tiles.ntcols.iloc[0])
        ntr = int(tiles.ntrows.iloc[0])
        mosaic = np.zeros((SIZE, SIZE), dtype=np.uint32)
        cache = {}
        maxSegId = 0
        for trow in range(ntr):
            for tcol in range(ntc):
                r = tiles[(tiles.tcol == tcol)
                          & (tiles.trow == trow)].iloc[0]
                tileData = np.frombuffer(
                    r.segtile, dtype="<u4").reshape(
                        r.ysize, r.xsize).copy()
                top = margin if trow > 0 else 0
                bottom = r.ysize - margin if trow < ntr - 1 else r.ysize
                left = margin if tcol > 0 else 0
                right = r.xsize - margin if tcol < ntc - 1 else r.xsize
                recodeDict = {}
                if trow > 0:
                    Mgr.recodeSharedSegments(
                        tileData, tileData[:overlap, :],
                        cache[(tcol, trow - 1, "bottom")],
                        reftiling.HORIZONTAL, recodeDict)
                if tcol > 0:
                    Mgr.recodeSharedSegments(
                        tileData, tileData[:, :overlap],
                        cache[(tcol - 1, trow, "right")],
                        reftiling.VERTICAL, recodeDict)
                newTile, _ = Mgr.relabelSegments(
                    tileData, recodeDict, maxSegId,
                    top, bottom, left, right)
                trimmed = newTile[top:bottom, left:right]
                mosaic[r.ypos + top:r.ypos + bottom,
                       r.xpos + left:r.xpos + right] = trimmed
                cache[(tcol, trow, "right")] = newTile[:, -overlap:]
                cache[(tcol, trow, "bottom")] = newTile[-overlap:, :]
                maxSegId = max(maxSegId, int(trimmed.max()))
        got = assemble_image(fpdf[fpdf.image_id == iid], SIZE, SIZE)
        ref = mosaic.astype(np.int64)
        frac = (got == ref).mean()
        assert frac == 1.0, (
            f"{iid}: stitched mosaics differ on {1-frac:.4%} px")


def test_spatial_udfs_match_reference_userfuncs(refstats, spark):
    """U1-U3 vs the ACTUAL reference userFuncVariogram /
    userFuncMeanCoord / userFuncNumEdgePixels on the same per-segment
    point lists (4-connected for edges; the reference's 8-connected
    branch double-counts mask[y+1,x+1] and omits mask[y-1,x+1] —
    a genuine reference bug, so only the 4-connected path is a
    meaningful parity target)."""
    import pandas as pd
    from pyshepseg_spark.operators.spatialstats import (
        apply_segment_udf, edge_pixels_udf, mean_coords,
        variogram_udf)
    from pyshepseg_spark.sources.imagegen import generate_image

    ts = refstats
    row, truth = generate_image(7, size=64, k=6)
    from pyshepseg_spark.sources.codec import decode_image
    img = decode_image(row["bytes"], row["fmt"], row["w"], row["h"])
    band = img[0].astype(np.int64)
    seg = truth.astype(np.int64)

    pix = pd.DataFrame({
        "image_id": "img",
        "seg_id": seg.ravel(),
        "y": np.repeat(np.arange(64), 64),
        "x": np.tile(np.arange(64), 64),
        "val": band.ravel()})
    pix = pix[pix.seg_id > 0]
    sdf = spark.createDataFrame(pix)

    gt = (10.0, 2.0, 0.0, 50.0, 0.0, -2.0)
    vf, vschema = variogram_udf(max_dist=3)
    ef, eschema = edge_pixels_udf(four_connected=True)
    got_v = apply_segment_udf(sdf, vf, vschema).toPandas() \
        .sort_values("seg_id", ignore_index=True)
    got_e = apply_segment_udf(sdf, ef, eschema).toPandas() \
        .sort_values("seg_id", ignore_index=True)
    got_m = mean_coords(sdf, geotransform=gt).toPandas() \
        .sort_values("seg_id", ignore_index=True)

    for _, g in pix.groupby("seg_id"):
        segid = int(g.seg_id.iloc[0])
        pts = [ts.SegPoint(int(x), int(y), int(v))
               for x, y, v in zip(g.x, g.y, g.val)]
        fl = np.zeros(3, dtype=np.float64)
        ia = np.zeros(1, dtype=np.int64)
        ts.userFuncVariogram(pts, -1, ia, fl, 3)
        mine = got_v[got_v.seg_id == segid].iloc[0]
        for lag in range(1, 4):
            ref_val = fl[lag - 1]
            my_val = mine[f"variogram_{lag}"]
            if ref_val == 0 and np.isnan(my_val):
                continue    # reference leaves empty bins at 0
            assert my_val == pytest.approx(ref_val, rel=1e-12), \
                (segid, lag)
        fl2 = np.zeros(2, dtype=np.float64)
        ts.userFuncMeanCoord(pts, -1, ia, fl2, np.array(gt))
        m = got_m[got_m.seg_id == segid].iloc[0]
        assert m.mean_easting == pytest.approx(fl2[0], rel=1e-12)
        assert m.mean_northing == pytest.approx(fl2[1], rel=1e-12)
        ia2 = np.zeros(1, dtype=np.int64)
        ts.userFuncNumEdgePixels(pts, -1, ia2, fl, True)
        e = got_e[got_e.seg_id == segid].iloc[0]
        assert int(e.num_edge_pixels) == int(ia2[0]), segid


def test_stitch_matches_reference_sequential_3x3(refseg, spark):
    """Same sequential-vs-CC stitch parity on a 3x3 grid with an
    edge-grown last row/col (352 px, tile 128, overlap 32): interior
    tiles join two predecessors and correspondence chains span
    multiple hops."""
    import pandas as pd
    import pyshepseg.tiling as reftiling
    from pyshepseg_spark.operators.segment import (SegConfig,
                                                   assemble_image,
                                                   segment_images_tiled)
    from pyshepseg_spark.sources.imagegen import generate_image

    size = 352
    row, _ = generate_image(9, size=size)
    pdf = pd.DataFrame([row])
    pdf["num_clusters"] = int(row["caption"].split(": ")[1].split()[0])
    images = spark.createDataFrame(pdf)
    cfg = SegConfig(img_null_val=65535, four_connected=False,
                    min_segment_size=50, tile_size=128, overlap=32)
    final, seg_tiles, _ = segment_images_tiled(images, cfg)
    stp = seg_tiles.toPandas()
    fpdf = final.toPandas()
    Mgr = reftiling.SegmentationConcurrencyMgr
    overlap, margin = cfg.overlap, cfg.overlap // 2

    tiles = stp
    ntc, ntr = int(tiles.ntcols.iloc[0]), int(tiles.ntrows.iloc[0])
    assert ntc == ntr == 3
    mosaic = np.zeros((size, size), dtype=np.uint32)
    cache = {}
    maxSegId = 0
    for trow in range(ntr):
        for tcol in range(ntc):
            r = tiles[(tiles.tcol == tcol)
                      & (tiles.trow == trow)].iloc[0]
            tileData = np.frombuffer(r.segtile, dtype="<u4").reshape(
                r.ysize, r.xsize).copy()
            top = margin if trow > 0 else 0
            bottom = r.ysize - margin if trow < ntr - 1 else r.ysize
            left = margin if tcol > 0 else 0
            right = r.xsize - margin if tcol < ntc - 1 else r.xsize
            rd = {}
            if trow > 0:
                Mgr.recodeSharedSegments(
                    tileData, tileData[:overlap, :],
                    cache[(tcol, trow - 1, "bottom")],
                    reftiling.HORIZONTAL, rd)
            if tcol > 0:
                Mgr.recodeSharedSegments(
                    tileData, tileData[:, :overlap],
                    cache[(tcol - 1, trow, "right")],
                    reftiling.VERTICAL, rd)
            newTile, _ = Mgr.relabelSegments(
                tileData, rd, maxSegId, top, bottom, left, right)
            trimmed = newTile[top:bottom, left:right]
            mosaic[r.ypos + top:r.ypos + bottom,
                   r.xpos + left:r.xpos + right] = trimmed
            cache[(tcol, trow, "right")] = newTile[:, -overlap:]
            cache[(tcol, trow, "bottom")] = newTile[-overlap:, :]
            maxSegId = max(maxSegId, int(trimmed.max()))
    got = assemble_image(fpdf, size, size)
    frac = (got == mosaic.astype(np.int64)).mean()
    assert frac == 1.0, f"3x3 mosaics differ on {1-frac:.4%} px"
