"""Structured Streaming forms of the engine's operators.

The plumbing every file-fed foreachBatch pipeline here shares lives
in this module, once:

- :func:`file_stream` — file-source stream over an append-only
  parquet table -> foreachBatch -> checkpoint (file-level progress
  across restarts) -> optional availableNow trigger.
- :func:`batch_sink` — the idempotent micro-batch sink. foreachBatch
  is at-least-once (a crash after the writes but before the
  checkpoint commit replays the batch), so every output is
  partitioned by batch_id and written with dynamic-partition
  overwrite: a replay replaces its own partitions instead of
  appending duplicate rows.
- :func:`read_store` — a probe's view of a batch_id-partitioned
  store: every batch before the current one, so a replay sees
  exactly the pre-crash store.

A fresh checkpoint path restarts batch numbering from 0, so it must
be paired with fresh output and store paths.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

# the documents and images table shapes of the test data: the
# default schemas of the file streams
DOCUMENTS_SCHEMA = ("doc_id long, text string, lang string, "
                    "source string, n_chars long")
IMAGES_SCHEMA = ("image_id string, bytes binary, w int, h int, "
                 "fmt string, caption string, phash long, "
                 "num_clusters long")


def batch_sink(outputs):
    """foreachBatch function from ``outputs(batch_df, batch_id)``,
    which returns the batch's ``[(frame, path), ...]``. An empty
    batch writes nothing; otherwise each frame is written, in order,
    under ``path``'s ``batch_id`` partition with dynamic-partition
    overwrite."""
    def process(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        for df, path in outputs(batch_df, int(batch_id)):
            (df.withColumn("batch_id", F.lit(int(batch_id)))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("batch_id").parquet(path))
    return process


def read_store(spark, path, batch_id):
    """The rows of every batch before ``batch_id`` in the
    batch_id-partitioned store at ``path``, or None while no batch
    has written it yet."""
    try:
        # raises eagerly (schema inference) when the store does not
        # exist yet; plans built on the result are lazy and their
        # errors propagate normally
        return (spark.read.parquet(path)
                .where(F.col("batch_id") < int(batch_id)))
    except AnalysisException:
        return None


def file_stream(spark, schema, path, process, checkpoint_path,
                max_files_per_trigger, trigger_once):
    """Start a file-source stream over the parquet table at ``path``
    feeding ``process`` per micro-batch; returns the StreamingQuery.
    ``trigger_once`` processes every file present (availableNow)
    and stops."""
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(path))
    writer = (stream.writeStream.foreachBatch(process)
              .option("checkpointLocation", checkpoint_path))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
