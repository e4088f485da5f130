"""O2-O4 result sinks: parquet lake (default) + MongoDB connector parity.

Reference: internal/storage/mongo.go:40-112 — database per simulation
id, one collection per result family, unordered batched inserts of
1000 documents (bulkInsert :80-96, SetOrdered(false) :91).

The parquet sink is the lake-native restatement (SURVEY §2.5 O2-O3)
and the default everywhere. The Mongo sink reproduces the reference's
storage contract for users pointing at an actual MongoDB: writes are
DISTRIBUTED — each partition opens its own client and bulk-inserts its
rows (no collect, no driver-side funnel), which is exactly how a
1000-executor write should fan in. The pymongo dependency is optional:
construction fails fast with a clear message when the driver is absent,
and the client factory is injectable so the batching/unordered
semantics are testable without a live server or the driver installed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def lake_root(out_dir: str, sim_id: str) -> str:
    """``<out_dir>/<sim_id>`` — the database-per-simulation directory
    (O4) every lake writer, batch or streaming, puts its tables in."""
    return f"{out_dir.rstrip('/')}/{sim_id}"


class ParquetResultSink:
    """Table-per-result-family parquet layout under <out>/<sim_id>/."""

    def __init__(self, out_dir: str, sim_id: str):
        self.root = lake_root(out_dir, sim_id)

    def store(self, name: str, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(f"{self.root}/{name}")


def _default_client_factory(uri: str):
    from pymongo import MongoClient

    return MongoClient(uri)


class MongoResultSink:
    """Reference-parity Mongo storage: db = simulation id, collection per
    family, unordered inserts batched at ``batch_size`` (mongo.go:58-96).

    ``client_factory(uri)`` must return an object supporting
    ``client[db][collection].insert_many(docs, ordered=False)`` and
    (optionally) ``close()`` — pymongo's MongoClient does; tests inject
    a fake.
    """

    def __init__(
        self,
        uri: str,
        sim_id: str,
        batch_size: int = 1000,
        client_factory=None,
    ):
        if client_factory is None:
            try:
                import pymongo  # noqa: F401
            except ImportError as exc:  # driver not in this environment
                raise ImportError(
                    "MongoResultSink requires the 'pymongo' driver (not installed "
                    "in this environment); use ParquetResultSink, or pass a "
                    "client_factory implementing the pymongo client surface"
                ) from exc
            client_factory = _default_client_factory
        self.uri = uri
        self.db_name = sim_id
        self.batch_size = batch_size
        self._factory = client_factory

    def store(self, name: str, df: DataFrame) -> None:
        uri, db_name, batch_size, factory = (
            self.uri,
            self.db_name,
            self.batch_size,
            self._factory,
        )

        def write_partition(rows) -> None:
            insert_rows_batched(rows, factory, uri, db_name, name, batch_size)

        df.foreachPartition(write_partition)

    def store_epoch(
        self, name: str, df: DataFrame, epoch_id: int, ingest_id: str | None = None
    ) -> None:
        """Idempotent per-epoch store for streaming ``foreachBatch``
        (streaming/sink.py): rows are stamped with the epoch id and the
        epoch's previous documents are deleted first, so a replayed
        epoch — foreachBatch's native delivery is at-least-once —
        overwrites itself instead of duplicating. The delete is one
        driver-side filter call; the inserts stay distributed
        per-partition unordered batches via store().

        ``ingest_id`` scopes the replay guard to one checkpoint
        lifecycle: Structured Streaming restarts epoch numbering at 0
        for a FRESH checkpoint, so without the discriminator a second
        ingestion into the same collection would delete the first run's
        epoch-0 documents instead of its own replays. Pass the same
        value for every epoch of one query (streaming/sink.py derives
        it from the checkpoint location); distinct ingestions then
        coexist, and re-ingesting the same data under a new checkpoint
        APPENDS — use a fresh collection or simulation id for that."""
        from pyspark.sql import functions as F

        flt: dict = {"_epoch": int(epoch_id)}
        stamped = df.withColumn("_epoch", F.lit(int(epoch_id)))
        if ingest_id is not None:
            flt["_ingest_id"] = ingest_id
            stamped = stamped.withColumn("_ingest_id", F.lit(ingest_id))
        client = self._factory(self.uri)
        try:
            client[self.db_name][name].delete_many(flt)
        finally:
            close = getattr(client, "close", None)
            if close is not None:
                close()
        self.store(name, stamped)


def insert_rows_batched(rows, client_factory, uri, db_name, name, batch_size) -> None:
    """The per-partition write kernel (module-level so tests can run the
    exact executor code path driver-side against a pymongo-compatible
    in-memory server): one client per partition, unordered insert_many
    in ``batch_size`` chunks (mongo.go:80-96), client closed on exit."""
    client = client_factory(uri)
    try:
        coll = client[db_name][name]
        buf = []
        for row in rows:
            buf.append(row.asDict(recursive=True))
            if len(buf) >= batch_size:
                coll.insert_many(buf, ordered=False)
                buf = []
        if buf:
            coll.insert_many(buf, ordered=False)
    finally:
        close = getattr(client, "close", None)
        if close is not None:
            close()


def write_training_shards(
    docs: DataFrame, out_dir: str, n_shards: int, salt: str = "shard"
) -> dict:
    """Export a curated corpus as N deterministic, size-balanced shards
    with a manifest — the hand-off format a trainer's data loader reads.

    Shard assignment is a salted portable hash of doc_id, NOT
    round-robin or partition order: re-running the export on the same
    corpus (any cluster size, any input partitioning) lands every doc
    in the same shard, so shards are reproducible and incremental
    re-exports are diffable. One Exchange (repartition on the shard
    column) and one pass; with millions of docs per shard the balance
    error of hashing is O(1/sqrt(n)) — no size-tracking state needed.

    Writes `shard=K/` parquet partitions plus `_manifest.json` with
    per-shard doc/token counts. Returns the manifest dict.
    """
    import json
    import os

    from pyspark.sql import functions as F

    shard = (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string")).cast("binary")), 1, 8), 16, 10)
        .cast("bigint") % n_shards
    ).cast("int")
    toks = F.size(F.split("text", " "))
    staged = docs.withColumn("shard", shard).withColumn("n_tokens", toks)
    (
        staged.repartition("shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )
    # Manifest stats come from the WRITTEN shards, not a second pass
    # over the source plan: the read-back prunes to two columns of the
    # just-written columnar files (cheap at any scale) and attests what
    # actually landed on disk.
    stats = (
        docs.sparkSession.read.parquet(out_dir)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("n_tokens"))
        .collect()
    )
    # Seed every shard id: with a small corpus (or large n_shards) some
    # shards legitimately receive zero docs and the written-files groupBy
    # can't see them — consumers iterating 0..n_shards-1 from the
    # manifest must still find an entry for each.
    shards = {k: {"n_docs": 0, "n_tokens": 0} for k in range(n_shards)}
    shards.update(
        {int(r.shard): {"n_docs": r.n_docs, "n_tokens": int(r.n_tokens)} for r in stats}
    )
    manifest = {"n_shards": n_shards, "salt": salt, "shards": shards}
    with open(os.path.join(out_dir, "_manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    return manifest
