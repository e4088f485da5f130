"""CLI end-to-end (python -m cometbft_log_etl_spark): the reference
main() workflow — dir in, simulation-namespaced tables out — through
both ingest modes. get_spark's getOrCreate reuses the test session, so
these run the real argument wiring without a second JVM."""

from __future__ import annotations

import glob
import os

import pytest

from cometbft_log_etl_spark.__main__ import main

from .fixtures import build_scenario, plugin_table_names, write_logs


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli-logs"))
    write_logs(build_scenario(heights=3), d)
    return d


def _tables(root: str) -> set[str]:
    return {
        os.path.basename(p)
        for p in glob.glob(os.path.join(root, "*"))
        if os.path.isdir(p) and not os.path.basename(p).startswith("_")
    }


def test_cli_batch_lake(spark, log_dir, tmp_path):
    out = str(tmp_path / "lake")
    rc = main(
        ["--dir", log_dir, "--out", out, "--simulation", "cli_batch",
         "--plugins", "vote-latency", "--with-rejects"]
    )
    assert rc == 0
    root = f"{out}/cli_batch"
    tables = _tables(root)
    assert "events" in tables and "parse_rejects" in tables
    assert len(tables) >= 3, tables  # events + rejects + vote-latency family
    assert spark.read.parquet(f"{root}/events").count() > 0


def test_cli_stream_lake_matches_batch(spark, log_dir, tmp_path):
    """--stream drains the same directory through the streaming entry;
    the lake and every plugin table must match the batch-mode run."""
    out = str(tmp_path / "lake2")
    assert main(["--dir", log_dir, "--out", out, "--simulation", "cli_b",
                 "--plugins", "vote-latency"]) == 0
    assert main(["--dir", log_dir, "--out", out, "--simulation", "cli_s",
                 "--stream", "--plugins", "vote-latency"]) == 0

    b_tables, s_tables = _tables(f"{out}/cli_b"), _tables(f"{out}/cli_s")
    assert b_tables == s_tables
    for t in sorted(b_tables):
        b = spark.read.parquet(f"{out}/cli_b/{t}")
        s = spark.read.parquet(f"{out}/cli_s/{t}").select(*b.columns)
        assert b.count() == s.count()
        assert s.exceptAll(b).count() == 0 and b.exceptAll(s).count() == 0


def test_cli_rejects_bad_arg_combos(log_dir):
    with pytest.raises(SystemExit):
        main(["--dir", log_dir])  # no destination
    with pytest.raises(SystemExit):
        main(["--dir", log_dir, "--stream", "--mongo-uri", "mongodb://x:1"])


def test_cli_plugins_list_tolerates_spaces(spark, log_dir, tmp_path):
    """`--plugins "a, b"` enables both plugins: names are stripped, so the
    second one is not skipped as an unknown ' b'."""
    out = str(tmp_path / "lake")
    assert main(["--dir", log_dir, "--out", out, "--simulation", "sp",
                 "--plugins", "vote-latency, network-latency,"]) == 0
    tables = _tables(f"{out}/sp")
    assert "vote_latencies" in tables
    assert {t for t in tables if t.startswith("network_latency_")}, tables


def _digests(spark, root: str, tables: set[str]) -> dict[str, tuple]:
    """(rows, sum of row hashes) per table, in one job: independent of row
    and column order, doubles rounded to 6 decimals, maps hashed as their
    key-sorted entries, partition column ``event_date`` left out."""
    from functools import reduce

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    frames = []
    for t in sorted(tables):
        df = spark.read.parquet(f"{root}/{t}").drop("event_date")
        cols = []
        for f in sorted(df.schema.fields, key=lambda f: f.name):
            c = F.col(f"`{f.name}`")
            if isinstance(f.dataType, T.DoubleType):
                c = F.round(c, 6)
            elif isinstance(f.dataType, T.MapType):
                c = F.array_sort(F.map_entries(c))
            cols.append(c)
        frames.append(df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
            F.lit(t).alias("t"), F.count(F.lit(1)).alias("n"), F.sum("h").alias("d")))
    return {r.t: (r.n, r.d) for r in reduce(lambda a, b: a.unionByName(b), frames).collect()}


def test_cli_partition_by_date_matches_unpartitioned(spark, log_dir, tmp_path):
    """Batch --partition-by-date: events gain an event_date column, every
    plugin table is written, and every table has the same digest as in
    the unpartitioned run."""
    out = str(tmp_path / "lake")
    assert main(["--dir", log_dir, "--out", out, "--simulation", "flat"]) == 0
    assert main(["--dir", log_dir, "--out", out, "--simulation", "dated",
                 "--partition-by-date"]) == 0

    flat, dated = _tables(f"{out}/flat"), _tables(f"{out}/dated")
    ev = spark.read.parquet(f"{out}/dated/events")
    assert flat == dated == {"events"} | plugin_table_names(spark, ev)
    assert "event_date" in ev.columns
    assert ev.filter("event_date != to_date(timestamp)").count() == 0
    assert _digests(spark, f"{out}/dated", dated) == _digests(spark, f"{out}/flat", flat)
