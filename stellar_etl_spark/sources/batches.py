"""S4/S5: ledger batching — the StreamLedgerBatches analog
(``internal/input/ledger_batches.go:27-62``): the reference groups the ledger
stream into inclusive ``[start, end]`` batches of ``batch-size`` (default 64
ledgers ≈ 5 minutes) and emits one output file per batch with deterministic
``{start}-{end}-{type}`` names (``cmd/command_utils.go:105-111``). This
module batches on sequence position; the event-time form is the tumbling
window of ``operators/conversations.py:extract_conversations_windowed``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F


def with_batch_bounds(df: DataFrame, batch_size: int = 64, seq_col: str = "turn_idx") -> DataFrame:
    """Sequence-based batching (the literal 64-ledger semantics, for jobs that
    batch on turn position rather than time): adds inclusive [batch_start,
    batch_end] and a ``batch_label`` matching the reference's filename scheme.
    """
    seq = F.col(seq_col).cast("long")
    start = seq - F.pmod(seq, F.lit(batch_size))
    end = start + batch_size - 1
    return (
        df.withColumn("batch_start", start)
        .withColumn("batch_end", end)
        .withColumn("batch_label", F.format_string("%d-%d", start, end))
    )
