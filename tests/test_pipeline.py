"""Spark pipeline tests: tiled segmentation end-to-end."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyshepseg_spark.operators.segment import (SegConfig, segment_images_tiled,
                                               assemble_image,
                                               segment_images)
from pyshepseg_spark.operators.tiling import explode_tiles, tile_metrics
from pyshepseg_spark.operators.zonal import (check_empty_segments,
                                             segment_sizes)
from pyshepseg_spark.refharness import reference_available
from pyshepseg_spark.sources.codec import decode_image
from tests.conftest import (SIZE, assert_driver_histogram,
                            reconstruction_fraction, requires_reference)

_STITCH_NEARBY = ("test_stitched_mosaic_regression_anchor (an engine "
                  "regression anchor, not reference parity)")


def test_explode_tiles_pixel_equality(spark, images_fixture):
    pdf, _, images = images_fixture
    tiles = explode_tiles(images, 128, 32).toPandas()
    row = pdf.iloc[0]
    img = decode_image(row["bytes"], row["fmt"], row["w"], row["h"])
    g = tiles[tiles.image_id == row["image_id"]]
    assert len(g) == 4  # 256 px, tile 128, overlap 32 -> 2x2 grid
    for t in g.itertuples(index=False):
        sub = np.frombuffer(t.pixels, dtype="<u2").reshape(
            t.nbands, t.ysize, t.xsize)
        expect = img[:, t.ypos:t.ypos + t.ysize,
                     t.xpos:t.xpos + t.xsize]
        assert np.array_equal(sub, expect)


def test_tiled_segmentation_reconstruction(images_fixture, final_tiles):
    """The reference CI gate, on the stitched output: 100% of valid
    pixels reconstruct within 0.5; null masks exact; IDs dense."""
    pdf, truths, _ = images_fixture
    fpdf = final_tiles.toPandas()
    for iid, g in fpdf.groupby("image_id"):
        row = pdf[pdf.image_id == iid].iloc[0]
        img = decode_image(row["bytes"], row["fmt"], row["w"],
                           row["h"])
        seg = assemble_image(g, row["w"], row["h"])
        assert reconstruction_fraction(seg, img) == 1.0
        # every null input pixel is null in the output; the reverse
        # is NOT an invariant: the reference's sequential recode can
        # legitimately null out a boundary segment (mode of the
        # neighbour strip is SEGNULLVAL, tiling.py:1194-1203), and
        # the engine reproduces that bitwise
        assert (seg[truths[iid] == 0] == 0).all()
        sizes = np.bincount(seg.ravel())
        assert (sizes[1:] > 0).all()  # dense IDs, no empty segments


def test_no_empty_segments(spark, final_tiles):
    sizes = segment_sizes(final_tiles)
    assert check_empty_segments(sizes).count() == 0


def test_whole_image_path_agrees_on_segment_structure(
        spark, images_fixture, cfg):
    """Whole-image (single-tile) fast path also passes the
    reconstruction gate and produces per-image dense IDs."""
    pdf, truths, images = images_fixture
    out = segment_images(images, cfg).collect()
    assert len(out) == len(pdf)
    for r in out:
        seg = np.frombuffer(r["segdata"], dtype="<i8").reshape(
            r["h"], r["w"])
        row = pdf[pdf.image_id == r["image_id"]].iloc[0]
        img = decode_image(row["bytes"], row["fmt"], row["w"],
                           row["h"])
        assert reconstruction_fraction(seg, img) == 1.0
        assert ((seg == 0) == (truths[r["image_id"]] == 0)).all()


def test_lineage_metrics(spark, images_fixture, cfg):
    from pyshepseg_spark.operators.segment import segment_tiles
    _, _, images = images_fixture
    tiles = explode_tiles(images, cfg.tile_size, cfg.overlap,
                          fit_cfg=cfg)
    st = segment_tiles(tiles, None, cfg)
    m = tile_metrics(st).toPandas()
    assert (m.n_tiles == 4).all()
    assert (m.kernel_secs > 0).all()
    assert (m.n_local_segments > 0).all()


def test_stitch_consistency_single_vs_multi_partition(
        spark, images_fixture, cfg, final_tiles):
    """Order-independence: the stitched result must not depend on
    partitioning/parallelism (the two-cluster-size invariance at the
    correctness level)."""
    from pyshepseg_spark.operators.segment import segment_images_tiled
    pdf, _, images = images_fixture
    final2, _, _ = segment_images_tiled(images.repartition(1), cfg)
    a = final_tiles.toPandas()
    b = final2.toPandas()
    for iid in pdf.image_id:
        sa = assemble_image(a[a.image_id == iid], SIZE, SIZE)
        sb = assemble_image(b[b.image_id == iid], SIZE, SIZE)
        assert np.array_equal(sa, sb)


def test_large_multi_tile_grid(spark):
    """4x4 tile grid (interior tiles, 4-neighbour stitch chains):
    the reconstruction gate must hold across long correspondence
    chains, not just 2x2 grids. Where the reference checkout exists,
    the mosaic must also equal the reference's sequential stitch
    bitwise."""
    import pandas as pd
    from pyshepseg_spark.operators.segment import segment_images_tiled
    from pyshepseg_spark.sources.imagegen import generate_image
    row, truth = generate_image(5, size=1024)
    pdf = pd.DataFrame([row])
    pdf["num_clusters"] = int(row["caption"].split(": ")[1].split()[0])
    images = spark.createDataFrame(pdf)
    cfg = SegConfig(img_null_val=65535, four_connected=False,
                    min_segment_size=50, tile_size=256, overlap=64)
    final, _, _ = segment_images_tiled(images, cfg)
    fp = final.toPandas()
    from pyshepseg_spark.operators.tiling import tile_grid
    expected_tiles, ntc, ntr = tile_grid(1024, 1024, 256, 64)
    assert ntc == ntr == 4 and len(fp) == len(expected_tiles) == 16
    img = decode_image(row["bytes"], row["fmt"], 1024, 1024)
    seg = assemble_image(fp, 1024, 1024)
    assert reconstruction_fraction(seg, img) == 1.0
    assert (seg[truth == 0] == 0).all()
    sizes = np.bincount(seg.ravel())
    assert (sizes[1:] > 0).all()
    if not reference_available():
        return
    # bitwise vs the reference sequential stitch across the full
    # 4x4 grid (long recode chains through interior tiles)
    from pyshepseg_spark.refharness import reference_stitched_mosaic
    ref = reference_stitched_mosaic(
        img, int(pdf["num_clusters"][0]), cfg)
    assert (seg == ref).all()


def test_stats_from_stitch_equals_paint_then_histogram(
        spark, images_fixture, cfg, final_tiles):
    """The one-pass stats path (histogram emitted directly from the
    stitch mapping, mosaic never materialized) must equal the
    two-step paint -> tile_value_histogram exactly."""
    from pyshepseg_spark.operators.zonal import (
        segment_stats, segment_stats_tiled, tile_value_histogram)
    _, _, images = images_fixture
    got = segment_stats_tiled(images, cfg, percentiles=(50,)) \
        .toPandas()
    want = segment_stats(
        tile_value_histogram(final_tiles, img_null_val=65535),
        percentiles=(50,)).toPandas()
    key = ["image_id", "seg_id", "band"]
    g = got.sort_values(key, ignore_index=True)
    w = want.sort_values(key, ignore_index=True)
    assert len(g) == len(w)
    pd.testing.assert_frame_equal(g, w, check_exact=True)


def test_stats_tiled_with_nodata_counts(spark, images_fixture, cfg):
    """A4 wired through the tiled stats path: with_nodata=True adds
    nodata_cnt/valid_cnt without changing any stat value, and the
    fixture's null margin contributes zero (null pixels are seg 0)."""
    from pyshepseg_spark.operators.zonal import segment_stats_tiled
    _, _, images = images_fixture
    got = segment_stats_tiled(images, cfg, percentiles=(50,),
                              with_nodata=True).toPandas()
    plain = segment_stats_tiled(images, cfg, percentiles=(50,)) \
        .toPandas()
    key = ["image_id", "seg_id", "band"]
    g = got.sort_values(key, ignore_index=True)
    p = plain.sort_values(key, ignore_index=True)
    assert len(g) == len(p)
    assert (g["nodata_cnt"] == 0).all()  # nulls live outside segments
    assert (g["valid_cnt"].to_numpy()
            == p["pix_count"].to_numpy()).all()
    for c in p.columns:
        a, b = g[c].to_numpy(), p[c].to_numpy()
        if a.dtype.kind == "f":
            assert np.allclose(a, b, equal_nan=True), c
        else:
            assert (a == b).all(), c


@pytest.mark.parametrize("with_nodata", [False, True])
def test_stats_tiled_plan_has_one_exchange(images_fixture, cfg,
                                           with_nodata):
    """segment_stats_tiled finalizes inside the stitch task: its plan
    holds the stitch's repartition and no other exchange, and no
    aggregate, window, join or checkpoint scan."""
    from pyshepseg_spark.operators.zonal import segment_stats_tiled
    _, _, images = images_fixture
    plan = segment_stats_tiled(images, cfg, with_nodata=with_nodata) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    for op in ("Aggregate", "Window", "Join", "ExistingRDD"):
        assert op not in plan, (op, plan)


@pytest.mark.parametrize("simple_recode", [False, True])
def test_stitch_plan_has_no_window_or_aggregate(images_fixture, cfg,
                                                simple_recode):
    """The stitch emits one lut row per tile and the paint joins them
    back to the checkpointed kernel rows: its plan holds no window
    and no aggregate, and its one hash exchange is the stitch's
    repartition by image (the luts join by broadcast)."""
    import re

    from pyshepseg_spark.operators.segment import (explode_and_segment,
                                                   stitch)
    _, _, images = images_fixture
    plan = stitch(explode_and_segment(images, cfg), cfg,
                  simple_recode=simple_recode) \
        ._jdf.queryExecution().executedPlan().toString()
    for op in ("Aggregate", "Window"):
        assert op not in plan, (op, plan)
    hashed = re.findall(r"Exchange hashpartitioning\(([^)]*)\), (\w+)",
                        plan)
    assert len(hashed) == 1, plan
    assert hashed[0][0].startswith("image_id#"), plan
    assert hashed[0][1] == "REPARTITION_BY_COL", plan
    assert "BroadcastHashJoin" in plan, plan


def test_simple_recode_mode(spark, images_fixture, cfg):
    """simpleTileRecode analogue (tiling.py:1024-1030): tile-local
    IDs offset to global uniqueness, NO cross-tile merging — every
    painted id maps back to exactly one (tile, local id), and ids
    from different tiles never collide."""
    from pyshepseg_spark.operators.segment import (explode_and_segment,
                                                   stitch)
    _, _, images = images_fixture
    st = explode_and_segment(images, cfg)
    final = stitch(st, cfg, simple_recode=True).toPandas()
    seg_tiles = st.toPandas()
    for iid, g in final.groupby("image_id"):
        ids = set()
        for t in g.itertuples(index=False):
            seg = np.frombuffer(t.segdata, dtype="<i8")
            tids = set(int(v) for v in np.unique(seg[seg > 0]))
            assert not (ids & tids), "cross-tile id collision"
            ids |= tids
        n_local = seg_tiles[seg_tiles.image_id == iid].nseg.sum()
        # ids are a subset of 1..sum(nseg) (margin-only ids trimmed)
        assert max(ids) <= n_local and min(ids) >= 1


def test_distributed_cc_equals_driver_union_find(spark):
    """The label-propagation fixpoint (_cc_distributed — the >2M-edge
    scale path of duplicate_groups) must produce the same
    components/roots as the driver union-find on the same edge list,
    including chains, cycles and stars. The 70-node chain has
    diameter 69: labels move one hop per round, so a propagation
    capped at 64 rounds would return it split."""
    import pandas as pd
    from pyshepseg_spark.operators.dedup import (_cc_distributed,
                                                 connected_components)
    rng = np.random.default_rng(17)
    edges = []
    # long chain, a cycle, star, and random edges; two disjoint copies
    for off in (0, 1000):
        edges += [(off + i, off + i + 1) for i in range(1, 70)]  # chain
        edges += [(off + 100, off + 101), (off + 101, off + 102),
                  (off + 102, off + 100)]                       # cycle
        edges += [(off + 200, off + 200 + j)
                  for j in range(1, 6)]                         # star
        for _ in range(40):
            a, b = rng.integers(300, 400, 2)
            if a != b:
                edges.append((off + int(a), off + int(b)))
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["a", "b"]))
    drv = connected_components(df).toPandas() \
        .sort_values("v", ignore_index=True)
    dist = _cc_distributed(df).toPandas() \
        .sort_values("v", ignore_index=True)
    assert len(drv) == len(dist)
    for c in ["v", "root"]:
        assert (drv[c].to_numpy() == dist[c].to_numpy()).all(), c
    # roots are component minima
    g = drv.groupby("root").v.min()
    assert (g.values == g.index.to_numpy()).all()
    assert (drv[drv.v.between(1, 70)].root == 1).all()
    assert (drv[drv.v.between(1001, 1070)].root == 1001).all()


# Engine regression anchor, NOT reference parity: the stitched mosaic
# of each session fixture image (conftest: 3 images of 256^2, tile
# 128, overlap 32) as the sha256 of its <i8 bytes, its segment count,
# and its count of valid pixels left at segment 0. The last is the
# reference's null recode (_recode_strip: the null id can win a strip
# mode, tiling.py:1194-1203); an order-independent stitch gives 0 on
# img_000002.
STITCH_ANCHORS = {
    "img_000000": ("5606037bc60f366f6f09df643c62fe24"
                   "3d55b1ff530c4f5a4b715e6e233da9f6", 19, 0),
    "img_000001": ("5284fd2ecb0a7210810fa7ce35683ddd"
                   "dfdb935dfc2b1359ce79d67f240866e8", 24, 0),
    "img_000002": ("3552c57cfc0cef8ce90e0211c9ae161a"
                   "64ec901fc048cade9263c7a2d6870a22", 13, 2848),
}


def test_stitched_mosaic_regression_anchor(images_fixture, final_tiles):
    """Engine regression anchor (not reference parity): the stitched
    fixture mosaics keep their recorded digest, segment count and
    number of valid pixels at segment 0 (see STITCH_ANCHORS). Needs
    no reference checkout."""
    import hashlib
    _, truths, _ = images_fixture
    fpdf = final_tiles.toPandas()
    got = {}
    for iid, g in fpdf.groupby("image_id"):
        seg = assemble_image(g, SIZE, SIZE)
        got[iid] = (
            hashlib.sha256(seg.astype("<i8").tobytes()).hexdigest(),
            int(seg.max()),
            int(((seg == 0) & (truths[iid] != 0)).sum()))
    assert got == STITCH_ANCHORS


@requires_reference(_STITCH_NEARBY)
def test_sequential_stitch_random_configs_bitwise(spark):
    """Property-style stitch parity: random seeds x random grid
    shapes (edge-grown last row/col, asymmetric overlaps) — the
    distributed sequential stitch must equal the reference recode
    replay bitwise on all of them, not just the curated fixtures."""
    import pandas as pd
    from pyshepseg_spark.refharness import reference_stitched_mosaic
    from pyshepseg_spark.operators.segment import segment_images_tiled
    from pyshepseg_spark.sources.imagegen import generate_image

    cases = [  # (seed, size, tile, overlap)
        (11, 200, 96, 24),    # 3x3 with heavy edge-grow
        (12, 320, 128, 64),   # fat overlap (mid = 32)
        (13, 260, 192, 48),   # 2x2, uneven core split
    ]
    rows, cfgs = [], []
    for seed, size, tile, ov in cases:
        row, _ = generate_image(seed, size=size)
        row = dict(row)
        row["num_clusters"] = int(
            row["caption"].split(": ")[1].split()[0])
        rows.append(row)
        cfgs.append((size, SegConfig(
            img_null_val=65535, four_connected=False,
            min_segment_size=50, tile_size=tile, overlap=ov)))
    for row, (size, cfg) in zip(rows, cfgs):
        images = spark.createDataFrame(pd.DataFrame([row]))
        final, _, _ = segment_images_tiled(images, cfg)
        got = assemble_image(final.toPandas(), size, size)
        img = decode_image(row["bytes"], row["fmt"], size, size)
        ref = reference_stitched_mosaic(img, row["num_clusters"], cfg)
        assert (got == ref).all(), (row["image_id"], cfg.tile_size,
                                    cfg.overlap)


def test_single_tile_images_tiled_equals_whole_image_stats(spark):
    """Images no bigger than one tile: the tiled stats path (stitch
    degenerate) must produce exactly the stats of the whole-image
    path (segment_images -> seg_image_value_histogram) — the two
    consumption paths agree where they overlap. The whole-image
    histogram itself must equal value_histogram over the collected
    rasters, computed on the driver."""
    import pandas as pd
    from pyshepseg_spark.operators.zonal import (
        seg_image_value_histogram, segment_stats, segment_stats_tiled)
    from pyshepseg_spark.sources.imagegen import generate_images_pdf
    pdf = generate_images_pdf(3, size=96, seed=5)
    pdf["num_clusters"] = [int(c.split(": ")[1].split()[0])
                           for c in pdf["caption"]]
    images = spark.createDataFrame(pdf)
    cfg = SegConfig(img_null_val=65535, four_connected=False,
                    min_segment_size=50, tile_size=128, overlap=32)
    a = segment_stats_tiled(images, cfg, percentiles=(50,)) \
        .toPandas().sort_values(
            ["image_id", "seg_id", "band"], ignore_index=True)
    seg = segment_images(images, cfg).localCheckpoint()
    hist = seg_image_value_histogram(seg, images, img_null_val=65535)
    b = segment_stats(hist, percentiles=(50,)) \
        .toPandas().sort_values(
            ["image_id", "seg_id", "band"], ignore_index=True)
    pd.testing.assert_frame_equal(a, b)
    assert_driver_histogram(hist.toPandas(), seg.toPandas(), pdf, 65535)


def test_fully_null_image_degrades_gracefully(spark):
    """One all-null image must not kill the stage (10^12-image jobs
    WILL contain garbage rows): zero segments, empty stats, all-null
    painted tiles, on both consumption paths."""
    import pandas as pd
    from pyshepseg_spark.operators.zonal import segment_stats_tiled
    from pyshepseg_spark.sources.codec import average_phash, encode_image
    img = np.full((3, 256, 256), 65535, dtype=np.uint16)
    row = {"image_id": "allnull", "bytes": encode_image(img, "png"),
           "w": 256, "h": 256, "fmt": "png", "caption": "x",
           "phash": int(average_phash(img[0])), "num_clusters": 8}
    images = spark.createDataFrame(pd.DataFrame([row]))
    cfg = SegConfig(img_null_val=65535, four_connected=False,
                    min_segment_size=50, tile_size=128, overlap=32)
    assert segment_stats_tiled(images, cfg).count() == 0
    final, _, _ = segment_images_tiled(images, cfg)
    fp = final.toPandas()
    assert len(fp) == 4
    assert all(np.frombuffer(r.segdata, dtype="<i8").max() == 0
               for r in fp.itertuples())
    out = segment_images(images, cfg).collect()
    assert out[0]["nseg"] == 0


@requires_reference(_STITCH_NEARBY)
def test_non_square_image_bitwise(spark):
    """Rectangular rasters (3x2 tile grid) stitch bitwise-equal to
    the reference replay — every other fixture is square."""
    import pandas as pd
    from pyshepseg_spark.refharness import reference_stitched_mosaic
    from pyshepseg_spark.sources.codec import (average_phash,
                                               encode_image)
    from pyshepseg_spark.sources.imagegen import (NULL_MARGIN,
                                                  make_pallete,
                                                  paint_image,
                                                  voronoi_truth)
    w, h, k = 320, 200, 12
    rng = np.random.default_rng(99)
    margin = NULL_MARGIN + 2
    centres = np.stack([rng.uniform(margin, w - margin, size=k),
                        rng.uniform(margin, h - margin, size=k)],
                       axis=1)
    img = paint_image(voronoi_truth(w, h, centres),
                      make_pallete(k, rng))
    row = {"image_id": "rect", "bytes": encode_image(img, "png"),
           "w": w, "h": h, "fmt": "png", "caption": "x",
           "phash": int(average_phash(img[0])), "num_clusters": k}
    cfg = SegConfig(img_null_val=65535, four_connected=False,
                    min_segment_size=50, tile_size=128, overlap=32)
    final, _, _ = segment_images_tiled(
        spark.createDataFrame(pd.DataFrame([row])), cfg)
    got = assemble_image(final.toPandas(), w, h)
    ref = reference_stitched_mosaic(
        decode_image(row["bytes"], "png", w, h), k, cfg)
    assert (got == ref).all()


@requires_reference(
    "none streams a mosaic across Arrow batches; "
    "test_stitched_mosaic_regression_anchor pins the stitch itself")
def test_tall_mosaic_streams_across_arrow_batches(spark):
    """The sequential stitch keeps its rolling cache across Arrow
    batch boundaries: force tiny batches (4 tile rows each) on a
    2x12-tile tall mosaic and require bitwise equality with the
    reference replay."""
    import pandas as pd
    from pyshepseg_spark.refharness import reference_stitched_mosaic
    from pyshepseg_spark.sources.codec import (average_phash,
                                               encode_image)
    from pyshepseg_spark.sources.imagegen import (NULL_MARGIN,
                                                  make_pallete,
                                                  paint_image,
                                                  voronoi_truth)
    w, h, k = 224, 1184, 16      # tile 128 / overlap 32 -> 2 x 12
    rng = np.random.default_rng(123)
    margin = NULL_MARGIN + 2
    centres = np.stack([rng.uniform(margin, w - margin, size=k),
                        rng.uniform(margin, h - margin, size=k)],
                       axis=1)
    img = paint_image(voronoi_truth(w, h, centres),
                      make_pallete(k, rng))
    row = {"image_id": "tall", "bytes": encode_image(img, "png"),
           "w": w, "h": h, "fmt": "png", "caption": "x",
           "phash": int(average_phash(img[0])), "num_clusters": k}
    cfg = SegConfig(img_null_val=65535, four_connected=False,
                    min_segment_size=50, tile_size=128, overlap=32)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                         "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        final, _, _ = segment_images_tiled(
            spark.createDataFrame(pd.DataFrame([row])), cfg)
        got = assemble_image(final.toPandas(), w, h)
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old)
    ref = reference_stitched_mosaic(
        decode_image(row["bytes"], "png", w, h), k, cfg)
    assert (got == ref).all()


def test_corrupt_image_row_skippable(spark, tmp_path):
    """A corrupt bytes row with cfg.on_decode_error='skip' drops out
    of every consumption path instead of killing the stage; the
    default ('fail') still raises, matching the reference."""
    import dataclasses
    import pandas as pd
    import pytest
    from pyshepseg_spark.operators.zonal import segment_stats_tiled
    from pyshepseg_spark.sources.imagegen import generate_images_pdf
    pdf = generate_images_pdf(2, size=96, seed=41)
    pdf["num_clusters"] = [int(c.split(": ")[1].split()[0])
                           for c in pdf["caption"]]
    bad = pdf.iloc[[0]].copy()
    bad["image_id"] = "corrupt"
    bad["bytes"] = [b"not a png at all"]
    table = pd.concat([pdf, bad], ignore_index=True)
    images = spark.createDataFrame(table)
    cfg = SegConfig(img_null_val=65535, four_connected=False,
                    min_segment_size=50, tile_size=64, overlap=16)
    with pytest.raises(Exception):
        segment_stats_tiled(images, cfg).count()
    cfg_skip = dataclasses.replace(cfg, on_decode_error="skip")
    out = segment_stats_tiled(images, cfg_skip, percentiles=(50,)) \
        .toPandas()
    assert set(out["image_id"]) == set(pdf["image_id"])
    segs = segment_images(images, cfg_skip).toPandas()
    assert set(segs["image_id"]) == set(pdf["image_id"])
    # the checkpointed pipeline reads its images through
    # explode_tiles(fit_cfg=...), which honours the same setting
    from pyshepseg_spark.plans.checkpoint import (
        run_segmentation_checkpointed)
    final, _ = run_segmentation_checkpointed(
        spark, images, cfg_skip, str(tmp_path / "ckpt"))
    assert set(final.toPandas()["image_id"]) == set(pdf["image_id"])


def test_fit_global_centres_discovers_nodata(spark, images_fixture,
                                             cfg):
    """ADVICE r4 (medium): --global-centres with --null-val omitted
    must not sample nodata pixels into the global k-means fit (the
    reference's fitSpectralClustersWholeFile samples only non-null
    pixels). fit_global_centres now runs the same S4 metadata
    discovery as segment_images_tiled's validate block: with
    band_null_vals declared, img_null_val=None yields exactly the
    explicit-null fit, while validate=False reproduces the old
    nodata-polluted sample (the generated images carry a 65535
    margin) and provably shifts the centres."""
    import dataclasses

    import numpy as np
    from pyspark.sql import functions as F

    from pyshepseg_spark.operators.segment import fit_global_centres
    _, _, images = images_fixture
    tagged = images.withColumn("band_null_vals",
                               F.array(F.lit(65535)))
    nocfg = dataclasses.replace(cfg, img_null_val=None)
    c_auto = fit_global_centres(tagged, nocfg)
    c_explicit = fit_global_centres(images, cfg)
    assert np.array_equal(c_auto, c_explicit)
    c_raw = fit_global_centres(tagged, nocfg, validate=False)
    assert not np.array_equal(c_raw, c_explicit)


def test_fit_global_centres_honours_kmeans_n_init(spark, images_fixture,
                                                 cfg):
    """With fixed_kmeans_init=False the global fit runs
    cfg.kmeans_n_init k-means++ inits, the same fit as the kernel
    function on the same stride sample."""
    import dataclasses

    from pyshepseg_spark.kernels.kmeans import fit_spectral_clusters_sample
    from pyshepseg_spark.operators.segment import fit_global_centres
    from pyshepseg_spark.operators.tiling import (collect_sample,
                                                  stride_sample_pixels)
    _, _, images = images_fixture
    one = dataclasses.replace(cfg, fixed_kmeans_init=False,
                              kmeans_n_init=1, num_clusters=8,
                              sample_target_pixels=20_000)
    got = fit_global_centres(images, one, validate=False)
    x = collect_sample(stride_sample_pixels(
        images, one.sample_target_pixels, one.img_null_val))
    want = fit_spectral_clusters_sample(x, 8, False, n_init=1)
    assert np.array_equal(got, want)
    # five inits keep a different (lower-inertia) fit on this sample
    assert not np.array_equal(
        got, fit_spectral_clusters_sample(x, 8, False, n_init=5))


def test_giant_mosaic_shared_centres_paths_agree(spark,
                                                 images_fixture, cfg):
    """Giant-single-raster mode (shared centres matrix): the unfused
    spread-tiles stats path (segment_stats_tiled centres=...) must
    equal paint -> tile_value_histogram -> finalizers over
    segment_images_tiled with the SAME centres, and the tile-row
    spread must not change any value (kernels are per-tile pure;
    stitch order is re-established by sort)."""
    import numpy as np
    from pyshepseg_spark.operators.segment import (fit_global_centres,
                                                   segment_images_tiled)
    from pyshepseg_spark.operators.zonal import (
        segment_stats, segment_stats_tiled, tile_value_histogram)
    _, _, images = images_fixture
    one = images.limit(1)
    centres = fit_global_centres(one, cfg)
    final, _, _ = segment_images_tiled(one, cfg, centres=centres)
    want = segment_stats(
        tile_value_histogram(final, img_null_val=65535),
        percentiles=(50,)).toPandas()
    got = segment_stats_tiled(one, cfg, percentiles=(50,),
                              centres=centres).toPandas()
    key = ["image_id", "seg_id", "band"]
    g = got.sort_values(key, ignore_index=True)
    w = want.sort_values(key, ignore_index=True)
    assert len(g) == len(w) and len(g) > 0
    pd.testing.assert_frame_equal(g, w, check_exact=True)


def test_keep_pixels_false_drops_column_keeps_segdata(
        spark, images_fixture, cfg, final_tiles):
    """keep_pixels=False (the segdata-only sink path) must drop ONLY
    the pixels column — identical segmentation, identical tile
    geometry — since the paint stage is memcpy-bound and
    segmentation-only consumers shouldn't move imagery they drop."""
    _, _, images = images_fixture
    from pyshepseg_spark.operators.segment import segment_images_tiled
    nopix, _, _ = segment_images_tiled(images, cfg,
                                       keep_pixels=False)
    assert "pixels" not in nopix.columns
    keys = ["image_id", "tcol", "trow"]
    got = (nopix.select(*keys, "xout", "yout", "segdata")
           .toPandas().sort_values(keys, ignore_index=True))
    want = (final_tiles.select(*keys, "xout", "yout", "segdata")
            .toPandas().sort_values(keys, ignore_index=True))
    import pandas as pd
    pd.testing.assert_frame_equal(got, want)


def test_shared_centres_mode_honours_decode_skip(spark):
    """The giant-single-raster mode reads images through the same
    row reader as the fused kernel: with on_decode_error='skip' a
    corrupt row drops out of fit_global_centres (the stride sample)
    and of segment_stats_tiled(centres=...) (explode_tiles), so both
    equal their result on the table without it; with 'fail' both
    raise."""
    import dataclasses

    import pytest
    from pyshepseg_spark.operators.segment import fit_global_centres
    from pyshepseg_spark.operators.zonal import segment_stats_tiled
    from pyshepseg_spark.sources.imagegen import generate_images_pdf
    pdf = generate_images_pdf(2, size=96, seed=43)
    pdf["num_clusters"] = 8
    bad = pdf.iloc[[0]].copy()
    bad["image_id"] = "corrupt"
    bad["bytes"] = [b"not a png"]
    good = spark.createDataFrame(pdf)
    images = spark.createDataFrame(pd.concat([pdf, bad],
                                             ignore_index=True))
    cfg = SegConfig(img_null_val=65535, four_connected=False,
                    min_segment_size=50, tile_size=64, overlap=16,
                    num_clusters=8, on_decode_error="skip")
    fail = dataclasses.replace(cfg, on_decode_error="fail")
    with pytest.raises(Exception):
        fit_global_centres(images, fail)
    c = fit_global_centres(images, cfg)
    assert np.array_equal(c, fit_global_centres(good, cfg))
    with pytest.raises(Exception):
        segment_stats_tiled(images, fail, centres=c).count()
    key = ["image_id", "seg_id", "band"]
    got = segment_stats_tiled(images, cfg, centres=c).toPandas() \
        .sort_values(key, ignore_index=True)
    want = segment_stats_tiled(good, cfg, centres=c).toPandas() \
        .sort_values(key, ignore_index=True)
    assert len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_global_sample_strides_by_decoded_pixels(spark):
    """A row skipped under on_decode_error='skip' must not thin the
    global k-means sample: at a stride above 1 (three 96^2 images
    declared, two decode, 2000 target pixels: stride 14 against 9),
    fit_global_centres equals its fit on the table without the
    corrupt row, sample included."""
    from pyshepseg_spark.operators.segment import fit_global_centres
    from pyshepseg_spark.operators.tiling import global_sample
    from pyshepseg_spark.sources.imagegen import generate_images_pdf
    pdf = generate_images_pdf(2, size=96, seed=43)
    bad = pdf.iloc[[0]].copy()
    bad["image_id"] = "corrupt"
    bad["bytes"] = [b"not a png"]
    good = spark.createDataFrame(pdf)
    images = spark.createDataFrame(pd.concat([pdf, bad],
                                             ignore_index=True))
    cfg = SegConfig(img_null_val=65535, num_clusters=8,
                    sample_target_pixels=2000, on_decode_error="skip")
    x = global_sample(images, 2000, 65535, "skip")
    want = global_sample(good, 2000, 65535, "skip")
    assert len(want) > 0 and np.array_equal(x, want)
    assert np.array_equal(fit_global_centres(images, cfg),
                          fit_global_centres(good, cfg))


def _tall_raster_row():
    """A 150 x 300 raster without a null margin (tile 64, overlap 16:
    2 tile columns by 5 tile rows): Voronoi regions, one vertical
    stripe region that spans every tile row, and exactly one null
    pixel. A tile holding a single null pixel turns it into a
    one-pixel segment, which the single-pixel elimination merges into
    a neighbour — so that segment's nodata count is 1."""
    from pyshepseg_spark.sources.codec import average_phash, encode_image
    from pyshepseg_spark.sources.imagegen import (make_pallete,
                                                  paint_image,
                                                  voronoi_truth)
    w, h, k = 150, 300, 10
    rng = np.random.default_rng(77)
    centres = np.stack([rng.uniform(0, w, size=k),
                        rng.uniform(0, h, size=k)], axis=1)
    # a two-pixel-wider diagram cropped: no margin of null labels
    truth = voronoi_truth(w + 4, h + 4, centres + 2)[2:-2, 2:-2]
    truth[:, 60:84] = k + 1
    img = paint_image(truth, make_pallete(k + 1, rng))
    img[:, 130, 20] = 65535
    return {"image_id": "tall", "bytes": encode_image(img, "png"),
            "w": w, "h": h, "fmt": "png", "caption": "x",
            "phash": int(average_phash(img[0])), "num_clusters": k + 1}


@pytest.mark.parametrize("shared_centres", [False, True])
def test_stats_tiled_row_release_tall_raster(spark, shared_centres):
    """segment_stats_tiled finalizes each segment inside the stitch
    task once no later tile row can add pixels to it. On a tall
    raster with a segment spanning every tile row and a nonzero
    nodata count, both modes equal paint -> tile_value_histogram ->
    segment_stats (and the `cli stats --with-nodata` join) exactly,
    with one row per (image_id, seg_id, band)."""
    from pyshepseg_spark.operators.segment import fit_global_centres
    from pyshepseg_spark.operators.zonal import (segment_nodata_counts,
                                                 segment_stats,
                                                 segment_stats_tiled,
                                                 tile_value_histogram)
    row = _tall_raster_row()
    images = spark.createDataFrame(pd.DataFrame([row]))
    cfg = SegConfig(img_null_val=65535, four_connected=False,
                    min_segment_size=50, tile_size=64, overlap=16)
    centres = fit_global_centres(images, cfg) if shared_centres else None
    final, _, _ = segment_images_tiled(images, cfg, centres=centres)
    hist_all = tile_value_histogram(final, img_null_val=None) \
        .localCheckpoint()
    stats = segment_stats(hist_all.filter(F.col("val") != 65535),
                          percentiles=(25, 50))
    key = ["image_id", "seg_id", "band"]
    want_nd = (segment_nodata_counts(hist_all, 65535)
               .join(stats, key, "left").toPandas()
               .sort_values(key, ignore_index=True))
    want = stats.toPandas().sort_values(key, ignore_index=True)
    seg = assemble_image(final.toPandas(), row["w"], row["h"])
    # the stripe's segment runs through every tile row
    assert (seg[:, 72] == seg[0, 72]).all() and seg[0, 72] > 0
    assert want_nd["nodata_cnt"].sum() > 0
    for with_nodata, w in ((False, want), (True, want_nd)):
        got = segment_stats_tiled(images, cfg, percentiles=(25, 50),
                                  with_nodata=with_nodata,
                                  centres=centres).toPandas()
        assert not got.duplicated(key).any()
        pd.testing.assert_frame_equal(
            got.sort_values(key, ignore_index=True), w,
            check_exact=True)


def test_stitch_bins_releases_at_tile_row_boundaries(spark):
    """The hist stitch hands each segment's merged bins out exactly
    once, and segments that no later tile row reaches leave before
    the image's end: on the tall raster the first block holds
    segments of the top rows only, the stripe's segment comes last."""
    from pyshepseg_spark.operators.segment import (_stitch_bins,
                                                   explode_and_segment)
    row = _tall_raster_row()
    images = spark.createDataFrame(pd.DataFrame([row]))
    cfg = SegConfig(img_null_val=65535, four_connected=False,
                    min_segment_size=50, tile_size=64, overlap=16)
    st = explode_and_segment(images, cfg, emit_hist=True,
                             keep_binaries=False)
    calls = iter(range(1 << 30))

    def finish(bins):
        return bins.assign(block=next(calls))

    got = _stitch_bins(st, cfg.overlap, finish,
                       "image_id string, seg_id long, band int, "
                       "val long, cnt long, block long").toPandas()
    assert not got.duplicated(["seg_id", "band", "val"]).any()
    blocks = got.groupby("seg_id").block.nunique()
    assert (blocks == 1).all()
    first = got.groupby("seg_id").block.first()
    assert first.nunique() > 2
    final, _, _ = segment_images_tiled(images, cfg)
    seg = assemble_image(final.toPandas(), row["w"], row["h"])
    assert first[seg[0, 72]] == first.max()
    # the first block leaves before the last tile row, whose trimmed
    # cores start at row 200: none of its segments reaches that row
    early = first.index[first == first.min()].to_numpy()
    assert len(early) and not np.isin(seg[200:], early).any()
