"""The ``etl_batch`` workload, and the ``etl_stream`` drain its traced run adds.

A pass is the CLI path, ``run_pipeline(spark, log_dir, out_dir=...)``:
log dir -> time-sorted events lake -> the 15 plugin tables as parquet.
An operation is one result table becoming ready (events plus the 15
plugin tables), timed from the start of the pass to its ``_SUCCESS``
marker.
"""

from __future__ import annotations

import os
import time
from collections import Counter

from checks import digest, digest_tables, load_pins
from corpus import BLOCK_PARTS, CorpusSpec, generate, write
from probes import dir_bytes

SPEC = CorpusSpec(validators=16, heights=12)
STREAM_FILES_PER_TRIGGER = 4


class EtlBatch:
    name = "etl_batch"

    def __init__(self, ctx):
        self.ctx = ctx
        self.corpus = generate(SPEC, ctx.seed)
        self.log_dir = write(self.corpus, os.path.join(ctx.work, "corpus"))
        self.input_bytes = dir_bytes(self.log_dir)
        self.pins = load_pins(spec_dict()).get(str(ctx.seed))
        self.first_digests: dict[str, list] | None = None

    def describe(self) -> str:
        s = SPEC
        return (f"{s.validators} validators x {s.heights} heights, {self.corpus.total_lines} lines, "
                f"{self.input_bytes} bytes")

    # --- untraced pass -----------------------------------------------------

    def run_pass(self, tag: str) -> tuple[float, list[float]]:
        from cometbft_log_etl_spark.pipeline import run_pipeline

        lake = os.path.join(self.ctx.work, "lake")
        t0 = time.time()
        run_pipeline(self.ctx.spark, self.log_dir, out_dir=lake, sim_id=tag)
        pass_s = time.time() - t0
        root = os.path.join(lake, tag)
        ops = [os.stat(os.path.join(root, t, "_SUCCESS")).st_mtime - t0 for t in sorted(os.listdir(root))]
        return pass_s, ops

    # --- traced pass: the same calls, one layer at a time ------------------

    def run_traced_pass(self, tag: str) -> None:
        from cometbft_log_etl_spark.pipeline import etl_events, write_events
        from cometbft_log_etl_spark.plans.registry import run_plugins

        ctx, spark = self.ctx, self.ctx.spark
        root = os.path.join(ctx.work, "lake", tag)
        with ctx.layer("pipeline", "pipeline.stage"):
            staged = etl_events(spark, self.log_dir)
            write_events(staged, root)
        events = spark.read.schema(staged.schema).parquet(f"{root}/events")
        with ctx.layer("plans", "plans.build"):
            tables = run_plugins(events)
        # one table at a time, so each table's time can be attributed
        with ctx.layer("plans", "plans.fanout"):
            for name, df in tables.items():
                with ctx.tracer.span(f"plans.{name}"):
                    df.write.mode("overwrite").parquet(f"{root}/{name}")

    # --- checks --------------------------------------------------------------

    def check(self, tag: str) -> list[tuple[str, bool, str]]:
        """Events per event_type against the generator, distinct node
        identities, and each table's digest against the pinned seed (or,
        for an unpinned seed, against this run's first pass)."""
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        root = os.path.join(self.ctx.work, "lake", tag)
        ev = spark.read.parquet(f"{root}/events")
        rows = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"), F.collect_set("node_id").alias("ids")).collect()
        got = Counter({r["event_type"]: r["n"] for r in rows})
        want = self.corpus.events
        out = [("events_per_type", got == want, "" if got == want else f"diff {dict((got - want) + (want - got))}")]
        nodes = len({i for r in rows for i in r["ids"]})
        out.append(("distinct_node_ids", nodes == SPEC.validators, f"{nodes}"))
        digests = digest_tables(spark, {t: f"{root}/{t}" for t in sorted(os.listdir(root))})
        ref, what = (self.pins, "pinned") if self.pins else (self.first_digests, "first pass")
        if ref is None:
            self.first_digests = digests
            out.append(("table_digests", True, "no pin for this seed; later passes must match this one"))
        else:
            bad = sorted(t for t in set(ref) | set(digests) if ref.get(t) != digests.get(t))
            out.append(("table_digests", not bad, f"vs {what}" + (f"; mismatched {bad}" if bad else "")))
        self.last_digests = digests
        return out

    # --- per-layer extras of the traced run -------------------------------

    def layer_metrics(self, tag: str) -> dict[str, float]:
        root = os.path.join(self.ctx.work, "lake", tag)
        tr = self.ctx.tracer
        m: dict[str, float] = {}
        m["pipeline.stage_s"] = tr.find("pipeline.stage").dur
        m["pipeline.events"] = self.last_digests["events"][0]
        m["pipeline.bytes_written"] = dir_bytes(os.path.join(root, "events"))
        m["plans.build_s"] = tr.find("plans.build").dur
        m["plans.fanout_s"] = tr.find("plans.fanout").dur
        for t, (rows, _) in self.last_digests.items():
            if t != "events":
                m[f"plans.{t}_s"] = tr.find(f"plans.{t}").dur
                m[f"plans.{t}_rows"] = rows
        written = dir_bytes(root)
        m["sinks.bytes_written"] = written
        m["sinks.write_amp"] = written / self.input_bytes
        m.update(self._sources_probe())
        m.update(self._operator_probes())
        m.update(self._stream())
        return m

    def _noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def _sources_probe(self) -> dict[str, float]:
        from cometbft_log_etl_spark.sources.logs import read_log_lines, read_parse_rejects, read_raw_events

        ctx, spark = self.ctx, self.ctx.spark
        with ctx.layer("sources", "sources.read"):
            self._noop(read_raw_events(spark, self.log_dir))
        lines = read_log_lines(spark, self.log_dir).count()
        rejects = Counter()
        for r in read_parse_rejects(spark, self.log_dir).collect():
            rejects[r["reason"]] += r["n"]
        ok = rejects == self.corpus.rejects
        ctx.record_check("sources_rejects", ok, "" if ok else f"got {dict(rejects)} want {dict(self.corpus.rejects)}")
        m = {"sources.read_s": ctx.tracer.find("sources.read").dur, "sources.lines": lines,
             "sources.accept_ratio": (lines - sum(rejects.values())) / lines}
        for reason in ("no_tag", "invalid_args", "unknown_tag"):
            m[f"sources.rejects.{reason}"] = rejects[reason]
        return m

    def _operator_probes(self) -> dict[str, float]:
        """Each operator applied to inputs staged before its timer starts,
        so each time covers that operator alone."""
        from pyspark.sql import functions as F

        from cometbft_log_etl_spark.functions.blocktext import block_struct
        from cometbft_log_etl_spark.operators.decode import decode_consensus_udf
        from cometbft_log_etl_spark.operators.metadata import attach_metadata, file_identities
        from cometbft_log_etl_spark.operators.normalize import normalize
        from cometbft_log_etl_spark.sources.logs import read_raw_events

        ctx, spark = self.ctx, self.ctx.spark
        stage = os.path.join(ctx.work, "staged")
        read_raw_events(spark, self.log_dir).write.mode("overwrite").parquet(f"{stage}/raw")
        raw = spark.read.parquet(f"{stage}/raw")
        normalize(raw).write.mode("overwrite").parquet(f"{stage}/events")
        events = spark.read.parquet(f"{stage}/events")
        events.select("msg_bytes").filter(F.col("msg_bytes").isNotNull()).write.mode("overwrite").parquet(f"{stage}/payloads")
        events.select("block_raw").filter(F.col("block_raw").isNotNull()).write.mode("overwrite").parquet(f"{stage}/blocks")
        payloads = spark.read.parquet(f"{stage}/payloads")
        blocks = spark.read.parquet(f"{stage}/blocks")

        m: dict[str, float] = {}
        probes = {
            "normalize": (lambda: normalize(raw), raw),
            "decode": (lambda: payloads.select(decode_consensus_udf("msg_bytes").alias("d")), payloads),
            "blocktext": (lambda: blocks.select(block_struct("block_raw").alias("b")), blocks),
            "metadata": (lambda: attach_metadata(events, file_identities(raw), strict=False), events),
        }
        for op, (build, source) in probes.items():
            with ctx.layer("operators", f"operators.{op}"):
                self._noop(build())
            m[f"operators.{op}_s"] = ctx.tracer.find(f"operators.{op}").dur
            m[f"operators.{op}_rows"] = source.count()
        return m

    def _stream(self) -> dict[str, float]:
        """The etl_stream operation: drain the corpus into the lake in
        micro-batches; the lake's rows must equal the batch events."""
        from cometbft_log_etl_spark.streaming.sink import stream_events_to_lake

        ctx, spark = self.ctx, self.ctx.spark
        out = os.path.join(ctx.work, "stream")
        with ctx.layer("streaming", "streaming.drain"):
            with ctx.tracer.span("streaming.start"):
                q, root = stream_events_to_lake(spark, self.log_dir, out, sim_id="drain",
                                                max_files_per_trigger=STREAM_FILES_PER_TRIGGER)
            done = q.awaitTermination(60)  # a drain takes ~15 s; keeps the run inside its time limit
        if not done:
            q.stop()
        progress = q.recentProgress
        lake = digest(spark.read.parquet(f"{root}/events")) if done else None
        ok = done and lake == self.last_digests["events"]
        ctx.record_check("stream_lake_equals_batch_events", ok, f"lake {lake} batch {self.last_digests['events']}")

        def total(key: str) -> float:
            return sum(p.durationMs.get(key, 0) for p in progress) / 1000

        rows = sum(p.numInputRows for p in progress)
        trigger_s = total("triggerExecution")
        return {
            "streaming.epochs": len(progress),
            "streaming.add_batch_s": total("addBatch"),
            "streaming.query_planning_s": total("queryPlanning"),
            "streaming.wal_commit_s": total("walCommit"),
            "streaming.input_rows_per_s": rows / trigger_s if trigger_s else 0.0,
            "streaming.start_s": ctx.tracer.find("streaming.start").dur,
        }


def spec_dict() -> dict:
    return {"validators": SPEC.validators, "heights": SPEC.heights, "block_parts": BLOCK_PARTS}
