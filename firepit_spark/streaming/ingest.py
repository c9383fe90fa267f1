"""Streaming STIX ingest: watch a directory (or any streaming source) of
bundle files and merge each micro-batch into the warehouse.

The reference has no streaming (its "streaming" is incremental JSON
parsing, firepit/raft.py:37-44); this is the Spark-native upgrade. Each
micro-batch reuses the exact batch ingest path through ``foreachBatch`` —
exactly-once per file via the file-source's checkpointed log, idempotent
re-merge via deterministic SCO ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from firepit_spark.sources.bundles import explode_bundles, flatten_objects, ingest_flat


def stream_bundles(
    storage,
    input_dir: str,
    query_id: str = "stream",
    checkpoint_dir: str | None = None,
    trigger_seconds: int | None = None,
    max_files_per_trigger: int | None = None,
):
    """Start a streaming query ingesting ``*.json`` bundle files dropped
    into ``input_dir``. Returns the StreamingQuery (call
    ``processAllAvailable()`` + ``stop()`` for synchronous smoke runs).

    ``max_files_per_trigger`` is the backpressure knob for catching up on
    a large backlog (the first batch after a restart otherwise ingests
    EVERY pending file in one micro-batch — unbounded memory/skew on a
    100-TB bundle drop); each micro-batch then handles at most that many
    bundle files and the checkpointed file log carries the rest forward.
    """
    spark = storage.spark
    reader = spark.readStream.format("text").option("wholetext", "true")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    raw = reader.load(input_dir)

    def handle_batch(batch_df: DataFrame, epoch_id: int):
        # the same explode + flatten + merge path as batch cache_distributed
        flat = flatten_objects(explode_bundles(batch_df))
        ingest_flat(storage, flat, f"{query_id}-{epoch_id}")

    writer = raw.writeStream.foreachBatch(handle_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
