import numpy as np
import pytest

from pyshepseg_spark.operators.segment import SegConfig, segment_images_tiled
from pyshepseg_spark.refharness import REFERENCE_PATH, reference_available
from pyshepseg_spark.session import get_spark
from pyshepseg_spark.sources.imagegen import generate_images_pdf

SIZE = 256
N_IMAGES = 3


def requires_reference(nearby):
    """skipif mark for a test of bitwise parity with the reference's
    own code: it runs wherever the reference checkout exists, and
    nothing in this repo stands in for that code. ``nearby`` names the
    reference-free test that covers a nearby property, or says that
    none does."""
    return pytest.mark.skipif(
        not reference_available(),
        reason=f"needs the reference checkout {REFERENCE_PATH}/pyshepseg;"
               f" nearby reference-free check: {nearby}")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pyshepseg_spark_tests", master="local[8]",
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def images_fixture(spark):
    pdf, truths = generate_images_pdf(N_IMAGES, size=SIZE,
                                      with_truth=True)
    pdf["num_clusters"] = [int(c.split(": ")[1].split()[0])
                           for c in pdf["caption"]]
    df = spark.createDataFrame(pdf)
    return pdf, truths, df


@pytest.fixture(scope="session")
def cfg():
    return SegConfig(img_null_val=65535, four_connected=False,
                     min_segment_size=50, tile_size=128, overlap=32)


@pytest.fixture(scope="session")
def final_tiles(spark, images_fixture, cfg):
    _, _, images = images_fixture
    final, seg_tiles, _ = segment_images_tiled(images, cfg)
    final = final.cache()
    final.count()
    return final


def reconstruction_fraction(seg: np.ndarray, img: np.ndarray,
                            tol: float = 0.5) -> float:
    """Reference runtests gate (runtests.py:324-376): fraction of
    valid pixels whose per-segment mean reconstructs within tol."""
    nseg = int(seg.max())
    sizes = np.bincount(seg.ravel(), minlength=nseg + 1)
    worst = 1.0
    for b in range(img.shape[0]):
        sums = np.bincount(seg.ravel(),
                           weights=img[b].ravel().astype(np.float64),
                           minlength=nseg + 1)
        means = np.where(sizes > 0, sums / np.maximum(sizes, 1), 0)
        rec = means[seg]
        valid = seg != 0
        worst = min(worst,
                    float((np.abs(rec[valid] - img[b][valid])
                           <= tol).mean()))
    return worst


def assert_driver_histogram(hist, seg_rows, images_pdf, img_null_val):
    """``hist`` (a merged HIST_SCHEMA frame) equals value_histogram
    run on the driver over each collected whole-image raster and its
    decoded image."""
    import pandas as pd

    from pyshepseg_spark.operators.zonal import value_histogram
    from pyshepseg_spark.sources.codec import decode_image
    frames = []
    for r in seg_rows.itertuples(index=False):
        src = images_pdf[images_pdf.image_id == r.image_id].iloc[0]
        seg = np.frombuffer(r.segdata, dtype="<i8").reshape(r.h, r.w)
        img = decode_image(src["bytes"], src["fmt"], r.w, r.h)
        s, b, v, c = value_histogram(seg, img, img_null_val)
        frames.append(pd.DataFrame({"image_id": r.image_id, "seg_id": s,
                                    "band": b, "val": v, "cnt": c}))
    key = ["image_id", "seg_id", "band", "val"]
    want = pd.concat(frames, ignore_index=True).sort_values(
        key, ignore_index=True)
    got = hist.sort_values(key, ignore_index=True)
    assert len(want) > 0
    assert list(got.columns) == list(want.columns)
    assert list(got.image_id) == list(want.image_id)
    for col in ["seg_id", "band", "val", "cnt"]:
        assert np.array_equal(got[col].to_numpy(np.int64),
                              want[col].to_numpy(np.int64)), col

