"""Sessionization, dedup groups, 1-band images, tiny images, and
streaming image ingest."""

import numpy as np
import pandas as pd

from pyshepseg_spark.operators.dedup import duplicate_groups
from pyshepseg_spark.operators.segment import SegConfig, segment_images
from pyshepseg_spark.operators.sessions import session_stats, sessionize
from pyshepseg_spark.sources.codec import encode_image


def test_sessionize_gap_rule(spark):
    ts = pd.to_datetime([
        "2024-01-01 00:00:00", "2024-01-01 00:10:00",
        "2024-01-01 01:10:00",  # 60-min gap -> new session
        "2024-01-01 01:20:00"])
    df = spark.createDataFrame(pd.DataFrame(
        {"user_id": [1] * 4, "ts": ts, "value": [1.0] * 4}))
    out = sessionize(df, gap_minutes=30).toPandas() \
        .sort_values("ts")
    assert out.session_seq.tolist() == [1, 1, 2, 2]
    st = session_stats(df, gap_minutes=30).toPandas()
    assert len(st) == 2 and set(st.n_events) == {2}


def test_duplicate_groups_transitive(spark):
    pairs = spark.createDataFrame(pd.DataFrame(
        {"a": [1, 2, 10], "b": [2, 3, 11]}))
    out = duplicate_groups(pairs).toPandas()
    groups = dict(zip(out.doc_id, out.group_rep))
    assert groups[1] == groups[2] == groups[3] == 1
    assert groups[10] == groups[11] == 10


def _flat_image_df(spark, nbands, size=96):
    rng = np.random.default_rng(9)
    k = 4
    img = np.zeros((nbands, size, size), dtype=np.uint16)
    for i in range(k):
        img[:, :, i * size // k:(i + 1) * size // k] = \
            (i + 1) * 2000
    return spark.createDataFrame(pd.DataFrame([{
        "image_id": "gray_0",
        "bytes": encode_image(img, "raw_u16"),
        "w": np.int32(size), "h": np.int32(size),
        "fmt": "raw_u16", "caption": "stripes",
        "phash": np.int64(0), "num_clusters": np.int32(k)}])), img


def test_single_band_image(spark):
    df, img = _flat_image_df(spark, nbands=1)
    cfg = SegConfig(four_connected=False, min_segment_size=10)
    out = segment_images(df, cfg).collect()[0]
    seg = np.frombuffer(out["segdata"], dtype="<i8").reshape(96, 96)
    # four vertical stripes -> >= 4 segments, flat reconstruction
    assert out["nseg"] >= 4
    for sid in range(1, out["nseg"] + 1):
        vals = img[0][seg == sid]
        assert (vals == vals[0]).all()


def test_tiny_image_single_tile_pipeline(spark):
    from pyshepseg_spark.operators.segment import (assemble_image,
                                                   segment_images_tiled)
    df, img = _flat_image_df(spark, nbands=3)
    cfg = SegConfig(four_connected=False, min_segment_size=10,
                    tile_size=256, overlap=64)  # image < tile
    final, _, _ = segment_images_tiled(df, cfg)
    fp = final.toPandas()
    assert len(fp) == 1  # single tile, no stitch edges
    seg = assemble_image(fp, 96, 96)
    assert seg.max() >= 4
    sizes = np.bincount(seg.ravel())
    assert (sizes[1:] > 0).all()


def test_streaming_image_ingest(spark, tmp_path, images_fixture):
    """Structured Streaming ingest of the images table through the
    whole-image segmentation kernel (readStream parquet ->
    mapInPandas -> append sink)."""
    import os
    from pyshepseg_spark.operators.segment import segment_images
    pdf, _, images = images_fixture
    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    images.limit(2).write.parquet(src + "/b1")
    schema = spark.read.parquet(src + "/b1").schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    cfg = SegConfig(img_null_val=65535, four_connected=False,
                    min_segment_size=50)
    segs = segment_images(stream, cfg)
    q = (segs.writeStream.format("memory").queryName("img_segs")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .start())
    try:
        q.processAllAvailable()
        r = spark.sql(
            "select count(distinct image_id) c, min(nseg) m "
            "from img_segs").first()
        assert r["c"] == 2 and r["m"] > 0
    finally:
        q.stop()
