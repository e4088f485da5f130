"""run_pipeline as the one ETL driver: its destinations (parquet lake,
Mongo), the intermediates it leaves behind, and degenerate input."""

from __future__ import annotations

import os

import pytest

from cometbft_log_etl_spark.pipeline import etl_events, run_pipeline
from cometbft_log_etl_spark.sinks import MongoResultSink

from .fixtures import BASE, N_NODES, Scenario, build_scenario, plugin_table_names, write_logs
from .test_sinks import FakeFactory, _batches


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pipeline-logs"))
    write_logs(build_scenario(heights=3), d)
    return d


def test_pipeline_releases_plugin_persists(spark, log_dir, tmp_path, monkeypatch):
    """Once the tables are written, none of the frames the plugins pinned
    (persist_tracked) stays cached or tracked; the returned frames still
    read the same rows as the written tables."""
    from pyspark import StorageLevel

    from cometbft_log_etl_spark import session

    pinned = []
    real = session.persist_tracked

    def recording(df, level=None):
        pinned.append(real(df, level))
        return pinned[-1]

    monkeypatch.setattr(session, "persist_tracked", recording)
    res = run_pipeline(spark, log_dir, out_dir=str(tmp_path), sim_id="rel",
                       plugins=["network-latency"])

    assert len(pinned) == 3  # network-latency's matched / unmatched sides
    for df in pinned:
        assert df.storageLevel == StorageLevel.NONE
        assert not any(df is t for t in session._TRACKED_PERSISTS)
    name = "network_latency_measurements"
    written = spark.read.parquet(str(tmp_path / "rel" / name)).count()
    assert written > 0
    assert res[name].count() == written


def test_pipeline_mongo_destination(spark, log_dir, tmp_path):
    """A MongoResultSink destination receives events and every result
    table as collections of the simulation's database, with the row
    counts of the returned frames."""
    root = str(tmp_path / "mongo")
    sink = MongoResultSink("mongodb://example:27017", "sim_mg", client_factory=FakeFactory(root))
    res = run_pipeline(spark, log_dir, mongo_sink=sink)

    assert set(os.listdir(os.path.join(root, "sim_mg"))) <= set(res)
    assert set(res) == {"events"} | plugin_table_names(spark, res["events"])
    for name, df in res.items():
        docs = [d for b in _batches(root, "sim_mg", name) for d in b]
        assert len(docs) == df.count(), name


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory):
    """Every node logs its identity and nothing else: zero events."""
    sc = Scenario()
    for n in range(N_NODES):
        sc.identity(n, BASE)
    return write_logs(sc, str(tmp_path_factory.mktemp("no-events")))


@pytest.mark.parametrize("stream", [False, True], ids=["batch", "stream"])
def test_pipeline_zero_events(spark, log_dir, empty_dir, tmp_path, stream):
    """A run that yields no events returns an empty events table with the
    full schema and still writes every plugin table."""
    res = run_pipeline(spark, empty_dir, out_dir=str(tmp_path), sim_id="z", stream=stream)

    events = res["events"]
    want = etl_events(spark, log_dir).schema
    assert [(f.name, f.dataType) for f in events.schema] == [(f.name, f.dataType) for f in want]
    assert events.count() == 0
    written = {p for p in os.listdir(tmp_path / "z") if not p.startswith("_")}
    assert written == set(res) == {"events"} | plugin_table_names(spark, events)
