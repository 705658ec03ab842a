"""Scalar column functions — the analog of the reference's conversion helpers
(SURVEY.md §2.8), for the C-ids an operator or query calls; C20's batch
arithmetic is ``sources/batches.py:with_batch_bounds``. All pure Column
expressions: they inline into whole-stage codegen, no Python in the
execution path.
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F

# The engine-wide failed-turn predicate (tx `successful` flag analog,
# schema.go:58): a turn failed iff its payload carries the error marker.
# Single definition — six operators share it; the DuckDB oracle mirror is
# registry._SQL_SUCCESSFUL.
def is_successful(text_col: Column) -> Column:
    return ~F.coalesce(F.startswith(text_col, F.lit("error:")), F.lit(False))


# C3: base64 payload marshal (transform/transaction.go:49-67 XDR → base64).
def b64(col: Column) -> Column:
    return F.base64(col.cast("binary"))


# C5/C6: stable 64-bit content id (FarmHash/FNV in the reference,
# transform/asset.go:72-77, offer_normalized.go:108-178; any stable 64-bit
# hash used consistently preserves the invariant — we use xxhash64).
def stable_id(*cols: Column) -> Column:
    return F.xxhash64(*cols)


# C9: interval formatting "[min,max)" (transform/transaction.go:90-111).
def interval_str(lo: Column, hi: Column) -> Column:
    return F.format_string("[%d,%d)", lo.cast("long"), hi.cast("long"))


# C10/C11/C12: enum code ↔ name via map-literal lookup
# (operation.go:103-166 / schema.go:377-486). element_at on a map literal is
# codegen-friendly and O(1), unlike long when-chains.
def map_lookup(col: Column, mapping: dict, default=None) -> Column:
    pairs = []
    for k, v in mapping.items():
        pairs += [F.lit(k), F.lit(v)]
    looked = F.element_at(F.create_map(*pairs), col)
    if default is not None:
        looked = F.coalesce(looked, F.lit(default))
    return looked


# C16: key → sha256 hex (utils/main.go:1080-1086 LedgerEntryToLedgerKeyHash).
def sha256_hex(col: Column) -> Column:
    return F.sha2(col.cast("string"), 256)
