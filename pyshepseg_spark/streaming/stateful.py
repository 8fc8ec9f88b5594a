"""Structured-Streaming analogues of the reference's tile-streaming
state machine (SURVEY.md §2.8).

The reference holds per-segment state until the accumulated pixel
count equals the known segment size, then finalizes and evicts
(checkSegComplete, tilingstats.py:518-553, eviction :610-617). In
batch Spark a shuffle groupBy subsumes that machinery; when tiles
arrive as a *stream*, the same semantics map onto
``applyInPandasWithState``: state = partial value histogram +
expected count, emit + drop on completion — implemented here, plus a
watermarked windowed aggregation for late tile partials.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import (GroupState,
                                         GroupStateTimeout)

from . import IMAGES_SCHEMA, batch_sink, file_stream

COMPLETION_OUT_SCHEMA = ("image_id string, seg_id long, "
                         "pix_count long, mean_val double, "
                         "min_val long, max_val long")
COMPLETION_STATE_SCHEMA = ("cnt long, vsum double, vmin long, "
                           "vmax long, expected long")


def streaming_segment_images(spark, images_path, cfg, schema=None):
    """Streaming ingest of the images table: a file-source stream of
    image rows segmented continuously. The whole-image segmentation
    kernel (operators.segment.segment_images) is a STATELESS
    mapInPandas, so it composes with Structured Streaming unchanged —
    each micro-batch emits its per-image rasters; downstream
    per-segment aggregation either feeds segment_completion_stream
    (stateful, exact eviction) or a watermarked windowed agg.

    schema defaults to the input_hint images schema (imagegen)."""
    from ..operators.segment import segment_images
    stream = (spark.readStream.schema(schema or IMAGES_SCHEMA)
              .option("maxFilesPerTrigger", 4)
              .parquet(images_path))
    return segment_images(stream, cfg)


def stats_batch_writer(cfg, out_path, percentiles=(50,)):
    """foreachBatch sink for streaming_segment_stats: per-segment
    stats for one micro-batch, written IDEMPOTENTLY. foreachBatch is
    at-least-once — a crash after the parquet write but before the
    streaming checkpoint commits the batch replays it on restart —
    so the output goes through the idempotent :func:`batch_sink`: a
    replay replaces its own batch_id partition instead of appending
    duplicate stats rows, making the end-to-end pipeline effectively
    exactly-once. Exposed separately so the replay path is directly
    testable."""
    from ..operators.zonal import segment_stats_tiled

    return batch_sink(lambda batch_df, batch_id: [(
        segment_stats_tiled(batch_df, cfg, percentiles=percentiles),
        out_path)])


def streaming_segment_stats(spark, images_path, cfg, out_path,
                            checkpoint_path, schema=None,
                            percentiles=(50,), trigger_once=True):
    """Incremental per-segment stats over an APPEND-ONLY images
    table: file-source stream -> foreachBatch(segment_stats_tiled)
    -> parquet partitioned by batch_id, with Structured Streaming's
    checkpoint giving file-level progress tracking across restarts
    (a grown 10^12-row table re-processes only the new files) and
    the dynamic-partition-overwrite batch writer making replayed
    batches idempotent (see stats_batch_writer — foreachBatch alone
    is at-least-once). Readers should drop/ignore the ``batch_id``
    partition column. A fresh checkpoint_path restarts batch
    numbering from 0, so it must be paired with a fresh out_path.

    Correctness note: every image row is self-contained (bytes +
    dims), so the tiled pipeline — including the sequential-exact
    stitch — is a per-row pure function; micro-batch boundaries
    cannot split an image and the streamed union of outputs equals
    the batch run on the full table (tested)."""
    return file_stream(spark, schema or IMAGES_SCHEMA, images_path,
                       stats_batch_writer(cfg, out_path, percentiles),
                       checkpoint_path, max_files_per_trigger=4,
                       trigger_once=trigger_once)


def segment_completion_stream(partials):
    """Streaming per-segment stat completion.

    ``partials`` is a *streaming* DataFrame of per-tile partial rows
    (image_id, seg_id, cnt, vsum, vmin, vmax, expected) where
    ``expected`` is the segment's total pixel count (the RAT
    histogram precondition, tilingstats.py:165-166). A segment's
    state is held until its accumulated count reaches ``expected``,
    then a finalized row is emitted and the state evicted — the exact
    checkSegComplete/eviction behaviour as a Spark stateful op.
    """

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            cnt, vsum, vmin, vmax, expected = state.get
        else:
            cnt, vsum, vmin, vmax, expected = 0, 0.0, None, None, None
        for pdf in pdfs:
            cnt += int(pdf["cnt"].sum())
            vsum += float(pdf["vsum"].sum())
            mn = int(pdf["vmin"].min())
            mx = int(pdf["vmax"].max())
            vmin = mn if vmin is None else min(vmin, mn)
            vmax = mx if vmax is None else max(vmax, mx)
            expected = int(pdf["expected"].iloc[0])
        if expected is not None and cnt >= expected:
            state.remove()  # eviction (tilingstats.py:610-617)
            yield pd.DataFrame([{
                "image_id": key[0], "seg_id": key[1],
                "pix_count": cnt, "mean_val": vsum / max(cnt, 1),
                "min_val": vmin, "max_val": vmax}])
        else:
            state.update((cnt, vsum, vmin, vmax, expected))
            yield pd.DataFrame(columns=[
                "image_id", "seg_id", "pix_count", "mean_val",
                "min_val", "max_val"])

    return (partials.groupBy("image_id", "seg_id")
            .applyInPandasWithState(
                fn, COMPLETION_OUT_SCHEMA, COMPLETION_STATE_SCHEMA,
                "append", GroupStateTimeout.NoTimeout))


def windowed_event_counts(events, window="10 minutes",
                          watermark="20 minutes"):
    """Watermarked windowed aggregation over an event stream (the
    late-tile analogue): counts + value sums per (window, type)."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("win"),
                     F.col("event_type"))
            .agg(F.count("*").alias("n"),
                 F.sum("value").alias("value_sum")))
