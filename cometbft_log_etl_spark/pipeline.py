"""End-to-end ETL: log dir → normalized, metadata-stamped events →
plugin result tables. The package's one orchestrator; the CLI
(__main__) is a flag parser over `run_pipeline`.

Mirrors the reference main() pipeline (/root/reference/main.go:24-81):
parse directory → convert → attach per-file metadata → (sort) → sink →
fan out to plugin analytics. The Spark restatement (SURVEY.md §3.1):
read → normalize (one wide DF) → materialize once (staged parquet
with a lake, localCheckpoint without) → run each enabled plugin off the
materialized table → store result tables through the sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .operators.metadata import attach_metadata, file_identities
from .operators.normalize import normalize
from .session import tune_session
from .sinks import ParquetResultSink
from .sources.logs import read_raw_events


def etl_events(spark: SparkSession, log_dir: str, strict: bool = True) -> DataFrame:
    """Parse + normalize + enrich a directory of CometBFT node logs.

    The normalize step is two branches over the same parsed lines (the
    single-pass consensus projection + the P2P decode branch); with
    file_identities that is three consumers of raw, and raw is
    deliberately NOT persisted:

    - without a persist boundary, Catalyst's JSON-expression pruning
      rewrites each consumer's ``from_json`` to only the fields it
      touches (identities parses 2 of 23 union-schema fields, the P2P
      branch ~6), so the re-reads are pruned parses, not full ones
      (locally: ~35% faster warm, equal cold);
    - a MEMORY_AND_DISK persist of the full 23-field structs writes and
      re-reads MORE bytes than the source text (deserialized wide
      structs are several× the NDJSON size).

    The result is lazy; callers fanning several jobs out of it
    materialize it once first (see run_pipeline).
    """
    from .session import default_parallelism

    tune_session(spark)
    raw = read_raw_events(spark, log_dir)
    events = normalize(raw)
    ids = file_identities(raw, strict=strict)
    # attach_metadata's own strict check scans the JOINED events — which
    # executes the whole 8-family normalize once more just to verify an
    # invariant that already holds here by construction: `ids` contains
    # every file_path in `raw` (it is a groupBy over raw), events derive
    # from the same raw, and strict file_identities above already
    # rejected null identities. Skip the redundant event-side execution;
    # callers joining foreign identity tables keep the strict path.
    out = attach_metadata(events, ids, strict=False)
    # The 2-branch union doubles partition count (one set per branch);
    # every downstream job over the cached events would pay that
    # task-scheduling tax on each scan. Coalesce (narrow, no shuffle)
    # back to cluster parallelism: same work in fewer, fuller tasks.
    return out.coalesce(default_parallelism())


def write_events(events: DataFrame, out_dir: str, partition_by_date: bool = False) -> None:
    """O1/O2: event sink. The global time sort becomes a range-partitioned
    write (orderBy before write ⇒ parquet files are time-ordered without a
    single-reducer bottleneck). With partition_by_date the lake layout is
    hive-partitioned on event_date — at 100 TB that is what makes
    time-bounded reads partition-prune instead of scanning the corpus."""
    from pyspark.sql import functions as F

    df = events.orderBy("timestamp")
    path = f"{out_dir.rstrip('/')}/events"
    if partition_by_date:
        df = df.withColumn("event_date", F.to_date("timestamp"))
        df.write.mode("overwrite").partitionBy("event_date").parquet(path)
    else:
        df.write.mode("overwrite").parquet(path)


def read_events(
    spark: SparkSession, root: str, schema, partition_by_date: bool = False
) -> DataFrame:
    """Read the staged ``<root>/events`` table back with an explicit
    schema (``schema`` = the frame that was staged, plus the
    ``event_date`` partition column when date-partitioned): a zero-event
    run writes no part files, and a bare read would fail parquet schema
    inference instead of returning the empty table."""
    from pyspark.sql import types as T

    if partition_by_date:
        schema = T.StructType(schema.fields + [T.StructField("event_date", T.DateType())])
    return spark.read.schema(schema).parquet(f"{root}/events")


def generate_sim_id() -> str:
    """Generated simulation id, `cometbft_sim_<YYYYMMDDTHHMMSS>_<8 hex>` —
    parity with the reference's generated database name for runs without
    an explicit simulation id (internal/storage/mongo.go:99-112)."""
    import secrets
    import time

    return f"cometbft_sim_{time.strftime('%Y%m%dT%H%M%S')}_{secrets.token_hex(4)}"


def run_pipeline(
    spark: SparkSession,
    log_dir: str,
    out_dir: str | None = None,
    plugins: list[str] | None = None,
    strict: bool = True,
    sim_id: str | None = None,
    with_rejects: bool = False,
    stream: bool = False,
    partition_by_date: bool = False,
    mongo_sink=None,
) -> dict[str, DataFrame]:
    """Full fan-out: normalized events + every enabled plugin's result
    tables (O5/O6 — the single shared scan becomes one materialized
    events table every plugin reads), stored in every destination given.

    Destinations: ``out_dir`` puts every table under ``<out_dir>/<sim_id>/``
    — the reference's database-per-simulation naming (O4), with a
    generated `cometbft_sim_…` id when none is passed, so repeated runs
    never clobber each other; ``mongo_sink`` (a ``sinks.MongoResultSink``)
    stores events and every result table as collections. With neither,
    the tables are returned unwritten.

    The shared events table is materialized exactly once before the
    fan-out, two ways by destination:

    - with an ``out_dir``: the events parquet is written FIRST and
      plugins read it back — the staged table is columnar and
      compressed, every plugin scan is column-pruned, the lineage is
      one FileScan, and the sink write doubles as the materialization.
      This is the 100 TB shape: measured faster than localCheckpoint
      from ~10⁶ rows up. The batch write is time-sorted (O1/O2);
      ``stream=True`` instead drains the directory through the
      Structured-Streaming entry into the lake's exactly-once file sink
      (streaming/sink.py — a stream cannot sort). ``partition_by_date``
      hive-partitions the events on ``event_date`` either way;
    - without: eager localCheckpoint. Not ``.cache()``: a cached frame
      keeps its full lineage, so each of the ~15 plugin plans would
      re-analyze the whole parse→normalize tree (~7 s of driver-side
      planning at the bench scale); the checkpoint truncates it to a
      LogicalRDD.

    Once every destination is written, the intermediates the plugins
    persisted (persist_tracked) are released; the returned frames stay
    valid and recompute on use.
    """
    from .plans.registry import run_plugins, two_phase_fanout
    from .session import persistent_rdd_ids, release_tracked_persists

    if stream and out_dir is None:
        raise ValueError("stream=True needs an out_dir: the plugin fan-out reads the drained lake")
    lake = None
    if out_dir is not None:
        sim_id = sim_id or generate_sim_id()
        lake = ParquetResultSink(out_dir, sim_id)
        if stream:
            # lazy: streaming.sink imports this module
            from .streaming.ingest import stream_events
            from .streaming.sink import stream_events_to_lake

            # schema probe only — strict=False so the eager identity
            # validation job runs ONCE (inside stream_events_to_lake)
            schema = stream_events(spark, log_dir, strict=False).schema
            q, _ = stream_events_to_lake(
                spark, log_dir, out_dir, sim_id=sim_id, strict=strict,
                partition_by_date=partition_by_date,
            )
            q.awaitTermination()
        else:
            staged = etl_events(spark, log_dir, strict=strict)
            write_events(staged, lake.root, partition_by_date=partition_by_date)
            schema = staged.schema
        events = read_events(spark, lake.root, schema, partition_by_date)
    else:
        events = etl_events(spark, log_dir, strict=strict).localCheckpoint(eager=True)
    results: dict[str, DataFrame] = {"events": events}
    if with_rejects:
        # per-file drop-reason counters — the ingest job's data-quality
        # table, one extra pruned pass
        from .sources.logs import read_parse_rejects

        results["parse_rejects"] = read_parse_rejects(spark, log_dir)
    before = persistent_rdd_ids(spark)
    results.update(run_plugins(events, enabled=plugins))
    tables = {n: df for n, df in results.items() if n != "events"}
    if lake is not None:
        two_phase_fanout(tables, lake.store)
    if mongo_sink is not None:
        mongo_sink.store("events", events)
        two_phase_fanout(tables, mongo_sink.store)
    if lake is not None or mongo_sink is not None:
        release_tracked_persists(before)
    return results
