"""Scalar column functions — the analog of the reference's conversion helpers
(SURVEY.md §2.8 C1–C20). All pure Column expressions: they inline into
whole-stage codegen, no Python in the execution path.
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F

# C1: stroop → real units, x / 10^7 (internal/utils/main.go:85-88
# ConvertStroopValueToReal). Double variant matches the reference's float64.
def scaled_amount(col: Column, decimals: int = 7) -> Column:
    return col.cast("double") / F.lit(10**decimals)


# The engine-wide failed-turn predicate (tx `successful` flag analog,
# schema.go:58): a turn failed iff its payload carries the error marker.
# Single definition — six operators share it; the DuckDB oracle mirror is
# registry._SQL_SUCCESSFUL.
def is_successful(text_col: Column) -> Column:
    return ~F.coalesce(F.startswith(text_col, F.lit("error:")), F.lit(False))


# C2: hex-encode a hash (utils/main.go:34-38 HashToHexString).
def hex_hash(col: Column) -> Column:
    return F.lower(F.hex(col))


# C3: base64 payload marshal (transform/transaction.go:49-67 XDR → base64).
def b64(col: Column) -> Column:
    return F.base64(col.cast("binary"))


# C4: unix seconds → UTC timestamp, error on negative
# (utils/main.go:41-47 TimePointToUTCTimeStamp returns error when negative).
def unix_to_ts(col: Column, strict: bool = True) -> Column:
    ts = F.timestamp_seconds(col)
    if strict:
        # raise_error inside when() only fires on bad rows (strict-export F?).
        return F.when(col < 0, F.raise_error(F.lit("negative epoch"))).otherwise(ts)
    return F.when(col < 0, F.lit(None).cast("timestamp")).otherwise(ts)


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


# C13: bit flags → booleans + active-flag string list
# (operation.go:555-582, effects.go:1127-1139).
def flag_bool(flags: Column, bit: int) -> Column:
    return flags.bitwiseAND(F.lit(bit)) != 0


def flag_names(flags: Column, names: dict[int, str]) -> Column:
    arr = F.array(
        *[F.when(flag_bool(flags, bit), F.lit(name)) for bit, name in sorted(names.items())]
    )
    return F.filter(arr, lambda x: x.isNotNull())


# C16: key → sha256 hex (utils/main.go:1080-1086 LedgerEntryToLedgerKeyHash).
def sha256_hex(col: Column) -> Column:
    return F.sha2(col.cast("string"), 256)


# C17: price fraction n/d → double (operation.go:409-421).
def price_ratio(n: Column, d: Column) -> Column:
    return F.when(d != 0, n.cast("double") / d.cast("double")).otherwise(
        F.lit(None).cast("double")
    )


# C20: checkpoint arithmetic — which 64-wide batch a sequence belongs to and
# the batch bounds (utils/main.go:863-911 GetMostRecentCheckpoint etc.).
def batch_start(seq: Column, batch_size: int = 64) -> Column:
    return (seq - F.pmod(seq, F.lit(batch_size))).cast("long")


def batch_end_inclusive(seq: Column, batch_size: int = 64) -> Column:
    return (batch_start(seq, batch_size) + batch_size - 1).cast("long")
