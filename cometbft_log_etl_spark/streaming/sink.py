"""Streaming sinks: the dormant streaming entry wired to production storage.

Reference: internal/parser/dispatcher.go:101-121 defines ParseStream but
main() never connects it to storage (internal/storage/mongo.go:40-112) —
the streaming entry is dormant. This module completes that wiring in the
Spark restatement: the streaming event pipeline lands in the same two
destinations the batch pipeline has (pipeline.write_events / sinks), with
the delivery guarantees a long-running ingest job needs.

- **Parquet event lake** — Structured Streaming's file sink is
  exactly-once: each epoch's files commit atomically through the sink's
  transaction log, and a restarted epoch re-emits the same files instead
  of appending duplicates, so the lake converges to exactly the batch
  pipeline's rows over the same directory.
- **MongoDB** — ``foreachBatch`` + ``MongoResultSink.store_epoch``:
  every document is stamped with its epoch id and a replayed epoch
  deletes its own documents before re-inserting, upgrading
  foreachBatch's native at-least-once to effective exactly-once per
  collection while keeping the reference's unordered 1000-doc insert
  batching (mongo.go:80-96) on the distributed insert path.

At 100 TB the lake path is the production shape: hive-partitioning on
``event_date`` keeps time-bounded reads partition-pruned (the streaming
replacement for the batch sink's global time sort, which a stream cannot
do), and ``max_files_per_trigger`` bounds each micro-batch — the
backpressure knob that keeps epoch size, and therefore sink transaction
size, constant as the input directory grows.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..pipeline import generate_sim_id
from ..sinks import lake_root
from .ingest import stream_events


def stream_events_to_lake(
    spark: SparkSession,
    log_dir: str,
    out_dir: str,
    sim_id: str | None = None,
    strict: bool = True,
    max_files_per_trigger: int | None = None,
    partition_by_date: bool = False,
    available_now: bool = True,
) -> tuple[StreamingQuery, str]:
    """Stream a log directory into the parquet event lake.

    Layout matches the batch pipeline (O4 database-per-simulation
    naming): events land under ``<out_dir>/<sim_id>/events`` with the
    stream's checkpoint beside them under ``_checkpoints/events`` — one
    self-contained simulation directory holds the table, its
    ``_spark_metadata`` sink log, and the checkpoint that guards it.
    (Both logs record absolute paths, so the directory must stay at —
    or be remounted to — the same path for resume and read-back; moving
    it is a migration, not a rename.)

    ``available_now=True`` drains everything currently in the directory
    and terminates (batch-equivalent semantics, what tests and backfills
    want); ``False`` leaves a continuous tail-the-directory query
    running. Returns ``(query, root)`` — callers own
    ``query.awaitTermination()``.
    """
    root = lake_root(out_dir, sim_id or generate_sim_id())
    events = stream_events(spark, log_dir, strict=strict, max_files_per_trigger=max_files_per_trigger)
    writer = events
    if partition_by_date:
        writer = writer.withColumn("event_date", F.to_date("timestamp"))
    stream = (
        writer.writeStream.format("parquet")
        .option("path", f"{root}/events")
        .option("checkpointLocation", f"{root}/_checkpoints/events")
        .outputMode("append")
    )
    if partition_by_date:
        stream = stream.partitionBy("event_date")
    if available_now:
        stream = stream.trigger(availableNow=True)
    return stream.start(), root


def ingest_id_for(checkpoint_dir: str) -> str:
    """Stable ingest id for a checkpoint location.

    Hash of the normalized location: local paths go through abspath so
    relative/absolute spellings of the same directory share an id, but
    URI locations (s3a://, hdfs://) hash as-is — abspath would prepend
    the driver's cwd, making the id depend on where the job was
    launched and breaking the epoch-replay idempotence guard when the
    SAME query restarts from a different working directory.
    """
    import hashlib
    import os
    import re

    location = checkpoint_dir.rstrip("/")
    # Scheme detection must cover single-slash URIs (Hadoop's
    # Path.toString renders local URIs as file:/tmp/ckpt) WITHOUT
    # swallowing relative local dirs that merely contain a colon
    # ('ckpt:v2/run' launched from two cwds must NOT share an ingest
    # id — round-8 advice). Rule: it is a URI iff the prefix is a
    # known filesystem scheme, or an arbitrary scheme followed by the
    # authority marker '//'. A local directory literally named like
    # 'hdfs:x' is therefore unsupported — documented contract, checked
    # deterministically (no os.path.exists probe: an id that depends
    # on what happens to exist at call time would be worse).
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.\-]*):(.*)$", location)
    _FS_SCHEMES = {
        "file", "hdfs", "viewfs", "s3", "s3a", "s3n", "gs",
        "abfs", "abfss", "wasb", "wasbs", "oss", "dbfs",
    }
    is_uri = m is not None and (
        m.group(1).lower() in _FS_SCHEMES or m.group(2).startswith("//")
    )
    if not is_uri:
        location = os.path.abspath(location)
    return hashlib.md5(location.encode()).hexdigest()[:12]


def stream_events_to_mongo(
    spark: SparkSession,
    log_dir: str,
    sink,
    checkpoint_dir: str,
    table: str = "events",
    strict: bool = True,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Stream a log directory into a MongoDB collection via foreachBatch.

    ``sink`` is a ``sinks.MongoResultSink`` (or anything exposing its
    ``store_epoch(name, df, epoch_id, ingest_id)`` contract). Each
    micro-batch is written through ``store_epoch``, which stamps rows
    with (epoch id, ingest id) and deletes that pair's prior documents
    before inserting — the standard idempotent-foreachBatch pattern, so
    Structured Streaming's epoch replays (after a crash between sink
    write and checkpoint commit) overwrite themselves instead of
    duplicating. The ingest id is derived from the checkpoint location
    — stable across restarts of the SAME query (where replays happen),
    distinct for a fresh checkpoint (whose epoch numbering restarts at
    0 and must not delete an earlier ingestion's documents). Inserts
    remain distributed per-partition unordered batches (reference
    parity, mongo.go:80-96); only the one delete filter runs
    driver-side.
    """
    ingest_id = ingest_id_for(checkpoint_dir)

    def write_batch(batch_df, epoch_id) -> None:
        sink.store_epoch(table, batch_df, epoch_id, ingest_id=ingest_id)

    stream = (
        stream_events(spark, log_dir, strict=strict, max_files_per_trigger=max_files_per_trigger)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir.rstrip("/"))
        .outputMode("append")
    )
    if available_now:
        stream = stream.trigger(availableNow=True)
    return stream.start()
