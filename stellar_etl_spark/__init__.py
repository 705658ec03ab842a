"""stellar_etl_spark — a from-scratch PySpark-native streaming ETL/CEP engine.

Re-imagines the extract/transform semantics of stellar/stellar-etl (a Go
batch-range export pipeline, see /root/reference) as a Spark Structured
Streaming engine over tables of multi-turn agent transcripts:

- conversations play the role of ledgers (reference: one LedgerCloseMeta per
  ledger sequence),
- turns play the role of transactions (ordered by ``turn_idx`` within a
  conversation, reference ``internal/toid/main.go``),
- sub-turn units (tool calls / text spans) play the role of operations.

Everything is expressed Spark-first: DataFrame column expressions, windows,
watermarks, native streaming aggregates for stateful transforms,
``applyInPandas`` for grouped ones, and an idempotent exactly-once sink. No
per-row Python UDFs in any hot path.

Layout:

- :mod:`stellar_etl_spark.session`   — tuned SparkSession builders
- :mod:`stellar_etl_spark.schemas`   — fixed StructType schemas (schema.go analog)
- :mod:`stellar_etl_spark.toid`      — total-order id bit packing (toid/main.go analog)
- :mod:`stellar_etl_spark.generator` — deterministic synthetic transcripts (scalable)
- :mod:`stellar_etl_spark.sources`   — batch/stream readers + windowed batching
- :mod:`stellar_etl_spark.operators` — the extractors (transform/*.go analogs)
- :mod:`stellar_etl_spark.functions` — scalar column function library + text/dedup/similarity
- :mod:`stellar_etl_spark.streaming` — streaming pipeline, exactly-once sink, state, metrics
- :mod:`stellar_etl_spark.plans`     — job/extractor registry (cmd/*.go analog)
"""

__version__ = "0.1.0"

from stellar_etl_spark.session import get_spark  # noqa: F401
