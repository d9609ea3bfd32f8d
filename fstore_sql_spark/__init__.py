"""fstore_sql_spark — a PySpark-native event-sourcing / event-streaming engine.

Re-implements the query and data-processing capabilities of the reference
``fraktalio/fstore-sql`` (a PostgreSQL-native event store, see
``/root/reference/schema.sql``) as an idiomatic Spark engine:

- DataFrame/SQL declarative plans (Catalyst optimizes; no RDD code anywhere)
- Parquet-backed append-only event log + versioned state snapshots
  (Delta-compatible abstraction; at cluster scale the storage layer swaps to
  Delta `appendOnly` + `MERGE` without touching the engine logic)
- Structured Streaming for the push-delivery pipeline
- Large-scale data-pipeline operators (dedup, similarity search, text
  analysis, multimodal plumbing) designed for 100 TB inputs

Public API:
    EventStore       — the event-sourcing/streaming facade (register/append/
                       get/stream/ack/nack), SURVEY.md §2.1 A1–A9
    get_spark        — opinionated local SparkSession builder
"""

from fstore_sql_spark.session import get_spark
from fstore_sql_spark.store import EventStore
from fstore_sql_spark.errors import (
    StreamFinalizedError,
    FirstEventError,
    PreviousIdError,
    OptimisticLockError,
    UnregisteredEventError,
    DuplicateRegistrationError,
    DuplicateEventIdError,
    NotNullViolationError,
)

__all__ = [
    "EventStore",
    "get_spark",
    "StreamFinalizedError",
    "FirstEventError",
    "PreviousIdError",
    "OptimisticLockError",
    "UnregisteredEventError",
    "DuplicateRegistrationError",
    "DuplicateEventIdError",
    "NotNullViolationError",
]

__version__ = "0.1.0"
