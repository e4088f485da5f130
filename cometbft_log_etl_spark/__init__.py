"""cometbft_log_etl_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of ``bft-labs/cometbft-log-etl``.

The reference (/root/reference) is a single-process Go ETL pipeline for
CometBFT node logs: parse NDJSON → normalize events → fan out to plugin
analytics (stream joins, sessionization, histograms) → result tables.
This package re-expresses every capability Spark-first:

- ``sources/``   — NDJSON log ingestion (reference internal/app, internal/parser)
- ``schemas/``   — StructType mirrors of the raw log-line schemas (types/raws.go)
- ``operators/`` — converters + enrichment (internal/converter, internal/app)
- ``plans/``     — plugin analytics as DataFrame transforms (ossplugins/*)
- ``functions/`` — scalar helpers (lib/format.go, lib/parse.go, lib/time.go)
- ``queries/``   — the oracle-checkable query catalog exposed via __spark_entry__;
  ``queries/datapipe.py`` holds the large-scale training-data ops (dedup,
  similarity, text stats)
- ``streaming/`` — Structured Streaming variants (parser.ParseStream parity)

Everything is DataFrame/SQL-first: Catalyst plans the physical execution;
Python UDFs appear only for the two genuinely imperative kernels
(protobuf payload decode, stringified-Block text parse).
"""

__version__ = "0.1.0"
