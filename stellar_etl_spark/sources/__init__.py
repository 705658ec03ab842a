"""Source readers — analogs of the reference's ledger backends
(``internal/utils/main.go:1048-1078 CreateLedgerBackend``) and batchers
(``internal/input/ledger_batches.go``)."""

from stellar_etl_spark.sources.transcripts import (  # noqa: F401
    read_batch,
    read_stream,
    read_range,
)
from stellar_etl_spark.sources.batches import with_batch_bounds  # noqa: F401
