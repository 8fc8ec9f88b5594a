"""Multimodal plumbing, streaming stateful op, checkpoint-resume."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyshepseg_spark.operators.multimodal import image_features
from pyshepseg_spark.sources.codec import decode_image


def test_image_features(spark, images_fixture):
    pdf, _, images = images_fixture
    out = image_features(images, img_null_val=65535).toPandas()
    row = pdf.iloc[0]
    img = decode_image(row["bytes"], row["fmt"], row["w"], row["h"])
    assert len(out) == len(pdf) * img.shape[0]
    valid = (img != 65535).all(axis=0)
    expect = img[:, valid].mean(axis=1)
    got = out[out.image_id == row["image_id"]].sort_values("band")
    assert np.allclose(got.band_mean.to_numpy(), expect)
    assert ((got.nonnull_frac > 0.9) & (got.nonnull_frac < 1.0)).all()


def test_streaming_segment_completion(spark, tmp_path):
    """A6 as a Spark stateful streaming op: state held until the
    expected count arrives, then finalized + evicted
    (tilingstats.py:518-617 semantics)."""
    from pyshepseg_spark.streaming.stateful import (
        segment_completion_stream)
    # two batches: segment 1 completes only after batch 2
    src = str(tmp_path / "partials")
    os.makedirs(src)
    b1 = pd.DataFrame([
        {"image_id": "i1", "seg_id": 1, "cnt": 3, "vsum": 30.0,
         "vmin": 5, "vmax": 15, "expected": 5},
        {"image_id": "i1", "seg_id": 2, "cnt": 2, "vsum": 8.0,
         "vmin": 4, "vmax": 4, "expected": 2}])
    b2 = pd.DataFrame([
        {"image_id": "i1", "seg_id": 1, "cnt": 2, "vsum": 20.0,
         "vmin": 10, "vmax": 10, "expected": 5}])
    schema = ("image_id string, seg_id long, cnt long, vsum double, "
              "vmin long, vmax long, expected long")
    spark.createDataFrame(b1).write.parquet(src + "/b1")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(src + "/*"))
    out = segment_completion_stream(stream)
    q = (out.writeStream.format("memory").queryName("seg_done")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
        got1 = spark.sql("select * from seg_done").toPandas()
        assert set(got1.seg_id) == {2}  # seg 1 incomplete
        spark.createDataFrame(b2).write.parquet(src + "/b2")
        q.processAllAvailable()
        got2 = spark.sql("select * from seg_done").toPandas()
        assert set(got2.seg_id) == {1, 2}
        r = got2[got2.seg_id == 1].iloc[0]
        assert r.pix_count == 5 and r.mean_val == 10.0
        assert r.min_val == 5 and r.max_val == 15
    finally:
        q.stop()


def test_checkpoint_resume(spark, images_fixture, cfg, tmp_path):
    """North rule: resumable from checkpoint; a second run reuses the
    persisted seg_tiles (zero new kernel work) and yields identical
    output."""
    from pyshepseg_spark.operators.segment import assemble_image
    from pyshepseg_spark.plans.checkpoint import (
        run_segmentation_checkpointed)
    pdf, _, images = images_fixture
    ck = str(tmp_path / "ck")
    final1, lin1 = run_segmentation_checkpointed(
        spark, images, cfg, ck, run_id="r1")
    p1 = final1.toPandas()
    final2, lin2 = run_segmentation_checkpointed(
        spark, images, cfg, ck, run_id="r2")
    p2 = final2.toPandas()
    for iid in pdf.image_id:
        a = assemble_image(p1[p1.image_id == iid], 256, 256)
        b = assemble_image(p2[p2.image_id == iid], 256, 256)
        assert np.array_equal(a, b)
    # lineage recorded per stage
    stages = {r["stage"] for r in lin2.rows}
    assert {"segment", "stitch", "totals"} <= stages


def test_streaming_windowed_watermark(spark, tmp_path):
    """windowed_event_counts over a real two-microbatch stream:
    append mode only emits windows closed by the advancing watermark,
    and every emitted row must equal the batch aggregation exactly."""
    from pyshepseg_spark.streaming.stateful import windowed_event_counts
    import glob
    import shutil
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .select(F.col("ts").cast("timestamp").alias("ts"),
                "event_type", "value")
    med = ev.selectExpr("percentile(CAST(ts AS DOUBLE), 0.5) p") \
        .first()["p"]
    src = tmp_path / "stream_in"
    src.mkdir()

    def emit(df, name):
        d = tmp_path / name
        df.coalesce(1).write.mode("overwrite").parquet(str(d))
        part = glob.glob(str(d / "part-*.parquet"))[0]
        shutil.copy(part, src / f"{name}.parquet")

    emit(ev.filter(F.col("ts").cast("double") <= med), "early")
    stream = spark.readStream.schema(ev.schema).parquet(str(src))
    out = windowed_event_counts(stream, window="1 hour",
                                watermark="30 minutes")
    q = (out.selectExpr("CAST(win.start AS STRING) AS win_start",
                        "event_type", "n", "value_sum")
         .writeStream.format("memory").queryName("wec")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    q.processAllAvailable()
    emit(ev.filter(F.col("ts").cast("double") > med), "late")
    q.processAllAvailable()
    q.stop()

    got = spark.sql("SELECT * FROM wec").toPandas()
    assert len(got) > 0, "watermark never closed any window"
    batch = (ev.groupBy(F.window("ts", "1 hour").alias("win"),
                        "event_type")
             .agg(F.count("*").alias("n"),
                  F.sum("value").alias("value_sum"))
             .selectExpr("CAST(win.start AS STRING) AS win_start",
                         "event_type", "n", "value_sum")
             .toPandas())
    m = got.merge(batch, on=["win_start", "event_type"],
                  suffixes=("_s", "_b"))
    assert len(m) == len(got)          # every emitted key exists
    assert (m["n_s"] == m["n_b"]).all()
    assert np.allclose(m["value_sum_s"], m["value_sum_b"])


def test_streaming_segment_ingest_equals_batch(spark, tmp_path):
    """End-to-end streaming ingest (readStream over the images table
    -> stateless whole-image segmentation): the streamed rasters are
    BITWISE equal to the batch path on the same rows."""
    from pyshepseg_spark.operators.segment import (SegConfig,
                                                   segment_images)
    from pyshepseg_spark.sources.imagegen import generate_images_pdf
    from pyshepseg_spark.streaming.stateful import \
        streaming_segment_images
    pdf = generate_images_pdf(3, size=96, seed=42)
    pdf["num_clusters"] = [int(c.split(": ")[1].split()[0])
                           for c in pdf["caption"]]
    src = str(tmp_path / "imgs")
    # two files -> at least two micro-batch-able inputs
    spark.createDataFrame(pdf.iloc[:2]).write.parquet(
        src, mode="overwrite")
    spark.createDataFrame(pdf.iloc[2:]).write.mode("append") \
        .parquet(src)
    cfg = SegConfig(img_null_val=65535, four_connected=False,
                    min_segment_size=50)
    out = streaming_segment_images(spark, src, cfg)
    q = (out.writeStream.format("memory")
         .queryName("seg_stream_test")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("seg_stream_test").toPandas() \
        .sort_values("image_id", ignore_index=True)
    want = segment_images(spark.read.parquet(src), cfg).toPandas() \
        .sort_values("image_id", ignore_index=True)
    assert len(got) == 3
    for i in range(3):
        assert got.iloc[i]["image_id"] == want.iloc[i]["image_id"]
        assert got.iloc[i]["segdata"] == want.iloc[i]["segdata"]
        assert got.iloc[i]["nseg"] == want.iloc[i]["nseg"]


def test_image_near_dups_matches_exact_hamming_join(spark):
    """phash-blocked image near-dup join == DuckDB's exact quadratic
    Hamming join on the same table (pigeonhole guarantee: blocks=8 >
    max_hamming=6), with planted bit-flipped copies recovered."""
    import duckdb
    from pyshepseg_spark.operators.multimodal import image_near_dups
    from pyshepseg_spark.sources.imagegen import generate_images_pdf

    pdf = generate_images_pdf(10, size=64, seed=11)[
        ["image_id", "phash"]]
    planted = pdf.head(3).copy()
    planted["image_id"] = planted["image_id"] + "_dup"
    # flip 3 known bits -> hamming 3 <= 6
    planted["phash"] = planted["phash"] ^ ((1 << 3) | (1 << 21)
                                           | (1 << 55))
    import pandas as pd
    table = pd.concat([pdf, planted], ignore_index=True)
    got = image_near_dups(spark.createDataFrame(table),
                          max_hamming=6, blocks=8) \
        .toPandas().sort_values(["a", "b"], ignore_index=True)

    con = duckdb.connect()
    con.register("imgs", table)
    want = con.execute("""
        SELECT a.image_id AS a, b.image_id AS b,
               bit_count(xor(a.phash, b.phash)) AS hamming
        FROM imgs a JOIN imgs b ON a.image_id < b.image_id
        WHERE bit_count(xor(a.phash, b.phash)) <= 6
        ORDER BY a, b
    """).df()
    assert len(got) >= 3            # planted pairs present
    pd.testing.assert_frame_equal(got, want.reset_index(drop=True),
                                  check_dtype=False)


def test_image_near_dups_recompute_equals_stored(spark):
    """recompute=True (decode + re-hash through the kernel) must
    agree with the stored phash column on clean data."""
    from pyshepseg_spark.operators.multimodal import image_near_dups
    from pyshepseg_spark.sources.imagegen import generate_images_pdf
    import pandas as pd

    pdf = generate_images_pdf(6, size=64, seed=12)
    dup = pdf.head(2).copy()
    dup["image_id"] = dup["image_id"] + "_copy"   # identical bytes
    table = pd.concat([pdf, dup], ignore_index=True)
    df = spark.createDataFrame(table)
    a = image_near_dups(df, max_hamming=4, blocks=8) \
        .toPandas().sort_values(["a", "b"], ignore_index=True)
    from pyshepseg_spark.constants import IMG_NULL_VAL
    b = image_near_dups(df, max_hamming=4, blocks=8,
                        recompute=True,
                        img_null_val=IMG_NULL_VAL) \
        .toPandas().sort_values(["a", "b"], ignore_index=True)
    assert a.equals(b)
    assert len(a) >= 2              # the exact copies (hamming 0)


def test_image_near_dups_recompute_skips_corrupt_rows(spark):
    """on_decode_error='skip' drops corrupt bytes rows instead of
    failing the stage; 'fail' (default) raises (ADVICE r3)."""
    import pandas as pd
    import pytest
    from pyshepseg_spark.constants import IMG_NULL_VAL
    from pyshepseg_spark.operators.multimodal import image_near_dups
    from pyshepseg_spark.sources.imagegen import generate_images_pdf

    pdf = generate_images_pdf(4, size=64, seed=12)
    dup = pdf.head(2).copy()
    dup["image_id"] = dup["image_id"] + "_copy"
    bad = pdf.head(1).copy()
    bad["image_id"] = "corrupt"
    bad["bytes"] = [b"\x89PNG not really"]
    table = pd.concat([pdf, dup, bad], ignore_index=True)
    df = spark.createDataFrame(table)
    with pytest.raises(Exception):
        image_near_dups(df, max_hamming=4, blocks=8,
                        recompute=True,
                        img_null_val=IMG_NULL_VAL).count()
    got = image_near_dups(df, max_hamming=4, blocks=8,
                          recompute=True, img_null_val=IMG_NULL_VAL,
                          on_decode_error="skip") \
        .toPandas().sort_values(["a", "b"], ignore_index=True)
    clean = image_near_dups(
        spark.createDataFrame(pd.concat([pdf, dup],
                                        ignore_index=True)),
        max_hamming=4, blocks=8) \
        .toPandas().sort_values(["a", "b"], ignore_index=True)
    assert got.equals(clean)


def test_streaming_segment_stats_incremental_exactly_once(spark,
                                                          tmp_path):
    """Append-only images table -> incremental stats: first stream
    run processes files 1-2, a SECOND run after appending file 3
    resumes from the checkpoint and processes ONLY the new file; the
    accumulated output equals the batch run over the full table (no
    duplicates, nothing missed)."""
    import pandas as pd
    from pyshepseg_spark.operators.segment import SegConfig
    from pyshepseg_spark.operators.zonal import segment_stats_tiled
    from pyshepseg_spark.sources.imagegen import generate_images_pdf
    from pyshepseg_spark.streaming.stateful import (
        streaming_segment_stats)

    cfg = SegConfig(img_null_val=65535, four_connected=False,
                    min_segment_size=50, tile_size=64, overlap=16)
    pdf = generate_images_pdf(6, size=96, seed=21)
    pdf["num_clusters"] = [int(c.split(": ")[1].split()[0])
                           for c in pdf["caption"]]
    src = str(tmp_path / "images")
    out = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")
    cols = list(pdf.columns)
    for i, chunk in enumerate([pdf.iloc[:2], pdf.iloc[2:4]]):
        spark.createDataFrame(chunk[cols]).coalesce(1) \
            .write.mode("append").parquet(src)

    q = streaming_segment_stats(spark, src, cfg, out, ckpt)
    q.awaitTermination(120)
    n_first = spark.read.parquet(out).count()
    assert n_first > 0

    # append two more images, resume from checkpoint
    spark.createDataFrame(pdf.iloc[4:6][cols]).coalesce(1) \
        .write.mode("append").parquet(src)
    q2 = streaming_segment_stats(spark, src, cfg, out, ckpt)
    q2.awaitTermination(120)

    got = spark.read.parquet(out).drop("batch_id").toPandas() \
        .sort_values(["image_id", "seg_id", "band"],
                     ignore_index=True)
    want = segment_stats_tiled(
        spark.createDataFrame(pdf[cols]), cfg).toPandas().sort_values(
        ["image_id", "seg_id", "band"], ignore_index=True)
    pd.testing.assert_frame_equal(
        got.reindex(sorted(got.columns), axis=1),
        want.reindex(sorted(want.columns), axis=1))


def test_streaming_stats_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between the parquet
    write and the checkpoint commit replays the batch. The
    dynamic-partition-overwrite writer must make the replay a no-op
    (same rows, no duplicates) — ADVICE r3."""
    import pandas as pd
    from pyshepseg_spark.operators.segment import SegConfig
    from pyshepseg_spark.sources.imagegen import generate_images_pdf
    from pyshepseg_spark.streaming.stateful import stats_batch_writer

    cfg = SegConfig(img_null_val=65535, four_connected=False,
                    min_segment_size=50, tile_size=64, overlap=16)
    pdf = generate_images_pdf(3, size=96, seed=22)
    pdf["num_clusters"] = [int(c.split(": ")[1].split()[0])
                           for c in pdf["caption"]]
    out = str(tmp_path / "stats")
    writer = stats_batch_writer(cfg, out)
    b0 = spark.createDataFrame(pdf.iloc[:2])
    b1 = spark.createDataFrame(pdf.iloc[2:])
    writer(b0, 0)
    writer(b1, 1)
    first = spark.read.parquet(out).toPandas().sort_values(
        ["batch_id", "image_id", "seg_id", "band"],
        ignore_index=True)
    writer(b0, 0)        # the at-least-once replay
    second = spark.read.parquet(out).toPandas().sort_values(
        ["batch_id", "image_id", "seg_id", "band"],
        ignore_index=True)
    pd.testing.assert_frame_equal(first, second)


def test_stats_from_restored_binary_checkpoint(spark, tmp_path):
    """Resume scenario for the stats consumer: a durable S6
    checkpoint (parquet of kernel rows WITH pixel/segtile binaries,
    written by a raster-producing run) is read back cold and goes
    stitch -> tile_value_histogram -> segment_stats, the path of the
    checkpointed runner and `cli stats` — the stats must equal the
    primary kernel-histogram path bit for bit."""
    import pandas as pd
    from pyshepseg_spark.operators.segment import (
        SegConfig, explode_and_segment, stitch)
    from pyshepseg_spark.operators.zonal import (
        segment_stats, segment_stats_tiled, tile_value_histogram)
    from pyshepseg_spark.sources.imagegen import generate_images_pdf

    cfg = SegConfig(img_null_val=65535, four_connected=False,
                    min_segment_size=50, tile_size=64, overlap=16)
    pdf = generate_images_pdf(3, size=96, seed=31)
    pdf["num_clusters"] = [int(c.split(": ")[1].split()[0])
                           for c in pdf["caption"]]
    images = spark.createDataFrame(pdf)

    ckpt = str(tmp_path / "seg_tiles")
    explode_and_segment(images, cfg).write.parquet(ckpt)

    restored = spark.read.parquet(ckpt)
    hist = tile_value_histogram(stitch(restored, cfg),
                                img_null_val=65535)
    got = segment_stats(hist, percentiles=(50,)).toPandas() \
        .sort_values(["image_id", "seg_id", "band"],
                     ignore_index=True)
    want = segment_stats_tiled(images, cfg, percentiles=(50,)) \
        .toPandas().sort_values(["image_id", "seg_id", "band"],
                                ignore_index=True)
    pd.testing.assert_frame_equal(got, want)


def test_multimodal_near_dups_joint_condition(spark):
    """Cross-modal dedup: only pairs close in BOTH phash and
    caption simhash qualify — checked against DuckDB's quadratic
    joint Hamming join, with three planted cases: joint dup (in),
    image-only dup (out), caption-only dup (out)."""
    import duckdb
    import pandas as pd
    from pyshepseg_spark.operators.dedup import simhash_md5
    from pyshepseg_spark.operators.multimodal import (
        multimodal_near_dups)
    from pyshepseg_spark.sources.imagegen import generate_images_pdf

    pdf = generate_images_pdf(8, size=64, seed=13)
    base = pdf.iloc[[0]]
    joint = base.copy()        # same caption, phash 2-bit flip
    joint["image_id"] = "joint_dup"
    joint["phash"] = joint["phash"] ^ 0b101
    imgonly = base.copy()      # near phash, unrelated caption
    imgonly["image_id"] = "img_only"
    imgonly["phash"] = imgonly["phash"] ^ 0b11
    imgonly["caption"] = "completely different words entirely " \
        "nothing shared with anything here at all truly"
    caponly = base.copy()      # same caption, far phash
    caponly["image_id"] = "cap_only"
    caponly["phash"] = ~caponly["phash"]
    table = pd.concat([pdf, joint, imgonly, caponly],
                      ignore_index=True)
    df = spark.createDataFrame(table)
    got = multimodal_near_dups(df).toPandas() \
        .sort_values(["a", "b"], ignore_index=True)

    # DuckDB ground truth: quadratic joint condition using the
    # engine's own caption simhashes (cross-engine-replayable md5
    # path) and the stored phash
    cap = simhash_md5(df, text_col="caption",
                      id_col="image_id").toPandas()
    con = duckdb.connect()
    con.register("t", table.merge(cap, on="image_id"))
    want = con.execute("""
        SELECT a.image_id AS a, b.image_id AS b,
               bit_count(xor(a.phash, b.phash)) AS phash_hamming,
               bit_count(xor(a.simhash, b.simhash))
                   AS caption_hamming
        FROM t a JOIN t b ON a.image_id < b.image_id
        WHERE bit_count(xor(a.phash, b.phash)) <= 6
          AND bit_count(xor(a.simhash, b.simhash)) <= 3
        ORDER BY a, b
    """).df()
    pairs = set(zip(got["a"], got["b"]))
    assert ("img_000000", "joint_dup") in pairs
    assert not any("img_only" in p for pair in pairs for p in pair)
    assert not any("cap_only" in p for pair in pairs for p in pair)
    pd.testing.assert_frame_equal(
        got, want.reset_index(drop=True), check_dtype=False)
