"""Exactly-once idempotent sink.

The reference achieves effective exactly-once with deterministic per-batch
filenames ``{start}-{end}-{type}.txt`` plus upload-verify-delete
(``cmd/command_utils.go:105-111``, ``cmd/upload_to_gcs.go:61-72``): replaying
a batch rewrites the same object. Our sink keeps that exact idea:

- **epoch-keyed overwrite**: ``foreachBatch`` writes micro-batch N to a
  deterministic ``epoch=N`` partition with ``mode=overwrite``. The streaming
  checkpoint (WAL) pins the same source offsets to the same epoch, so a
  killed-and-resumed query rewrites byte-identical data over the same path —
  idempotent replay, exactly-once end-to-end.
- **key-based merge-on-read**: :func:`read_sink` additionally collapses any
  duplicate business keys (conv_id, turn_idx[, unit_idx]) across epochs, the
  MERGE half of the Iceberg design. With Iceberg jars present the same class
  issues a real ``MERGE INTO`` per batch instead (one atomic commit per
  window) — the sandbox has no Iceberg runtime, so the parquet layout stands
  in with identical semantics.

Lineage (north rule: per-partition lineage + metrics): every committed epoch
appends a row to ``_lineage`` recording the epoch, row count, and per-source-
partition input counts.
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F


def _orderable(dtype) -> bool:
    """True if a column of this type can appear in a Window ORDER BY. Maps
    are not orderable in Spark — and neither is any type CONTAINING a map
    (array<map>, struct with a map field), so walk the type recursively."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dtype, MapType):
        return False
    if isinstance(dtype, ArrayType):
        return _orderable(dtype.elementType)
    if isinstance(dtype, StructType):
        return all(_orderable(f.dataType) for f in dtype.fields)
    return True


def key_precedence_dedup(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    recency_col: str | None = None,
) -> DataFrame:
    """THE merge resolution both sinks share: one surviving row per business
    key, picked by ``order_cols`` desc, then the recency column (epoch) desc
    when present, then every orderable data column in name order desc. The
    pick is a pure function of the row data, so any replay history resolves
    to the same survivor — this single definition is what makes the local
    parquet sink and the Iceberg MERGE sink semantically interchangeable
    (asserted by tests/test_streaming.py::test_merge_semantics_shared).

    Columns Spark cannot ORDER BY (maps, or any type containing one) still
    carry distinguishing data, so they participate through a to_json
    canonicalization — a pure row function (map entry order is fixed by the
    expression that built the map), so the tiebreak stays deterministic
    under replay instead of degenerating to "whichever row the task saw
    first"."""
    orderable, unorderable = [], []
    for f in df.schema.fields:
        if f.name in keys or f.name in order_cols or f.name == recency_col:
            continue
        (orderable if _orderable(f.dataType) else unorderable).append(f.name)
    order = [F.col(c).desc() for c in order_cols]
    if recency_col is not None:
        order.append(F.col(recency_col).desc())
    order += [F.col(c).desc_nulls_last() for c in sorted(orderable)]
    if unorderable:
        order.append(
            F.to_json(F.struct(*[F.col(c) for c in sorted(unorderable)])).desc_nulls_last()
        )
    if not order:
        # every column is a key: duplicates are identical rows, any pick is
        # the same row — order by a key only so the Window analyzes
        order = [F.col(keys[0]).asc()]
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


class IdempotentSink:
    """foreachBatch sink with deterministic epoch-keyed writes.

    Parameters
    ----------
    path: output table root (parquet dirs ``epoch=N`` + ``_lineage/``)
    keys: business key for merge-on-read dedup (ordering: later epoch wins)
    """

    def __init__(
        self,
        path: str,
        keys: tuple[str, ...] = ("conv_id", "turn_idx"),
        order_cols: tuple[str, ...] = (),
        output_partitions: int | None = None,
        fmt: str = "parquet",
    ):
        self.path = path
        self.keys = list(keys)
        # "parquet" (default) or "json" — the reference's K1 export writes
        # line-delimited text files per batch; JSONL epochs get the same
        # deterministic overwrite semantics. Parquet is the read-back /
        # merge-on-read format; a JSONL sink is a final export artifact.
        if fmt not in ("parquet", "json"):
            raise ValueError(f"unsupported sink format {fmt!r}")
        self.fmt = fmt
        # coalesce the batch to this many output files per epoch. A streaming
        # micro-batch arrives in one partition per source file; writing one
        # tiny zstd parquet per split dominates the export stage on narrow
        # extractors (measured +75% turns/s from coalesce(32) when CPU-bound).
        # At cluster scale set this ~ total cores; None keeps input shape.
        if output_partitions is not None and output_partitions < 1:
            raise ValueError(f"output_partitions must be >= 1, got {output_partitions}")
        self.output_partitions = output_partitions
        # merge-on-read precedence before epoch recency, e.g. ("ts",) for
        # last-state-by-event-time semantics
        self.order_cols = list(order_cols)

    # -- write side -----------------------------------------------------
    def foreach_batch(self, df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import Observation

        self._write_meta()
        if self.output_partitions:
            df = df.coalesce(self.output_partitions)
        out_dir = os.path.join(self.path, f"epoch={epoch_id}")
        # the lineage row count rides the write job as an observed metric —
        # no second job per epoch (the count re-read cost one extra Spark job
        # per micro-batch)
        obs = Observation(f"lineage-epoch-{epoch_id}")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        df.write.mode("overwrite").format(self.fmt).save(out_dir)
        self._write_lineage(epoch_id, out_dir, int(obs.get["rows"]))

    def _write_meta(self) -> None:
        """Persist the sink's identity (keys, precedence, format) next to the
        data — maintenance commands (compact) must not have to guess them; a
        wrong key set would silently collapse rows before deleting the
        originals."""
        meta_path = os.path.join(self.path, "_sink_meta.json")
        current = {"keys": self.keys, "order_cols": self.order_cols, "fmt": self.fmt}
        if os.path.exists(meta_path):
            # re-exporting into an existing sink with a DIFFERENT identity
            # must fail loudly: stale metadata would make a later
            # from_meta/compact merge with the wrong keys or format — the
            # silent row-collapse the metadata exists to prevent
            with open(meta_path) as f:
                existing = json.load(f)
            if existing != current:
                raise ValueError(
                    f"sink at {self.path} was created with {existing}, but this "
                    f"sink is configured as {current} — refusing to mix "
                    "identities in one path (delete the sink or match its config)"
                )
            return
        os.makedirs(self.path, exist_ok=True)
        _write_json(meta_path, current)

    @classmethod
    def from_meta(cls, path: str, **overrides) -> "IdempotentSink":
        """Reconstruct a sink from its persisted metadata (the safe route for
        maintenance commands). Raises if the sink has no metadata and the
        caller didn't override ``keys`` explicitly."""
        meta_path = os.path.join(path, "_sink_meta.json")
        meta = {}
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
        kwargs = {
            "keys": tuple(meta.get("keys", ())),
            "order_cols": tuple(meta.get("order_cols", ())),
            "fmt": meta.get("fmt", "parquet"),
        }
        kwargs.update(overrides)
        if not kwargs["keys"]:
            raise ValueError(
                f"{path} has no _sink_meta.json — pass keys explicitly "
                "(compacting with the wrong key set collapses rows)"
            )
        return cls(path, **kwargs)

    def _write_lineage(self, epoch_id: int, out_dir: str, n: int) -> None:
        rec = {
            "epoch": int(epoch_id),
            "rows": int(n),
            "committed_at": time.time(),
            "path": out_dir,
        }
        lineage_dir = os.path.join(self.path, "_lineage")
        os.makedirs(lineage_dir, exist_ok=True)
        # One file per epoch, deterministic name — replay overwrites it.
        _write_json(os.path.join(lineage_dir, f"epoch-{int(epoch_id)}.json"), rec)

    # -- read side ------------------------------------------------------
    def has_epochs(self) -> bool:
        """True if at least one epoch has been committed."""
        try:
            return any(n.startswith("epoch=") for n in os.listdir(self.path))
        except FileNotFoundError:
            return False

    def read_raw(self, spark: SparkSession) -> DataFrame:
        """All committed epochs, epoch column included. Raises a clear error
        (not a glob AnalysisException) when nothing has been committed —
        callers that tolerate empty sinks check :meth:`has_epochs` first.

        The epoch directories are listed and loaded by name under
        ``basePath``: loading the ``epoch=*`` glob made Spark probe it for a
        streaming-sink metadata directory and log a warning with a stack
        trace on every readback."""
        if not self.has_epochs():
            raise FileNotFoundError(f"no committed epochs under {self.path}")
        epochs = sorted(n for n in os.listdir(self.path) if n.startswith("epoch="))
        return (
            spark.read.option("basePath", self.path)
            .format(self.fmt)
            .load([os.path.join(self.path, n) for n in epochs])
        )

    def read_sink(self, spark: SparkSession) -> DataFrame:
        """Merge-on-read view: one row per business key (highest epoch wins) —
        the MERGE INTO equivalence under any replay history. Duplicate keys
        WITHIN an epoch (at-least-once delivery) are resolved by the data
        columns themselves (name order, desc) after any explicit order_cols —
        the pick must be a pure function of the rows so every replay reads
        the same survivor (found by the hypothesis replay property test).
        The resolution itself is the shared :func:`key_precedence_dedup` —
        the same rule the Iceberg MERGE sink applies per batch."""
        df = self.read_raw(spark)
        return key_precedence_dedup(
            df, self.keys, self.order_cols, recency_col="epoch"
        ).drop("epoch")

    def lineage(self) -> list[dict]:
        return _read_lineage(self.path)

    # -- maintenance ----------------------------------------------------
    def compact(self, spark: SparkSession) -> int:
        """Rewrite the merge-on-read view into one epoch (the Iceberg
        ``rewrite_data_files`` analog for the accumulated per-window epochs).

        The compacted epoch id is ``min(existing) - 1`` — strictly BELOW
        every possible future micro-batch id, for two reasons: (1) a resumed
        checkpoint continues assigning batch ids upward, so a ``max+1``
        epoch would be overwritten by the very next batch (silent loss of
        the whole compacted history); (2) the compacted rows are the
        BASELINE — any future batch must win the key-precedence merge, which
        ``epoch desc`` ordering gives exactly when the baseline carries the
        lowest id. Repeated compactions keep descending (-1, -2, ...).

        Crash-safe ordering: write outside the ``epoch=*`` glob, rename into
        place (the merged relation is unchanged at that instant — the new
        epoch loses every tie to the epochs it summarizes), then delete the
        old dirs (pure space reclaim). Returns the new epoch id."""
        import shutil

        from pyspark.sql import Observation

        if self.fmt == "json":
            # the rewrite would go through JSON schema inference: all-null
            # columns drop and timestamps round-trip as strings, so the
            # compacted epoch's schema could drift from the original epochs.
            # JSONL epochs are final export artifacts, not a merge substrate.
            raise ValueError(
                f"compact() is parquet-only; sink at {self.path} is fmt='json' "
                "(JSON schema inference would drift the compacted schema)"
            )

        epochs = sorted(
            int(n.split("=", 1)[1])
            for n in os.listdir(self.path)
            if n.startswith("epoch=")
        )
        if not epochs:
            raise FileNotFoundError(f"no committed epochs under {self.path}")
        new_epoch = epochs[0] - 1
        merged = self.read_sink(spark)
        if self.output_partitions:
            merged = merged.coalesce(self.output_partitions)
        out_dir = os.path.join(self.path, f"epoch={new_epoch}")
        # the merged plan lazily scans epoch=* — write OUTSIDE that glob
        # first, then move into place, so the source snapshot can't include
        # the half-written target; the row count rides the write job
        obs = Observation(f"compact-epoch-{new_epoch}")
        merged = merged.observe(obs, F.count(F.lit(1)).alias("rows"))
        tmp_dir = os.path.join(self.path, "_compact_tmp")
        shutil.rmtree(tmp_dir, ignore_errors=True)
        merged.write.mode("overwrite").format(self.fmt).save(tmp_dir)
        os.rename(tmp_dir, out_dir)
        self._write_lineage(new_epoch, out_dir, int(obs.get["rows"]))
        for e in epochs:
            shutil.rmtree(os.path.join(self.path, f"epoch={e}"), ignore_errors=True)
            old = os.path.join(self.path, "_lineage", f"epoch-{e}.json")
            if os.path.exists(old):
                os.remove(old)
        return new_epoch


def merge_update_condition(
    order_cols: list[str], src: str = "s", tgt: str = "t"
) -> str | None:
    """SQL predicate for the MERGE's WHEN MATCHED clause: update only when
    the source row does not LOSE to the target under the ``order_cols``
    precedence — lexicographic descending with NULL as the lowest value, the
    same ordering ``key_precedence_dedup`` applies intra-batch (order_cols
    ``desc`` puts nulls last in Spark). Without this, an unconditional
    UPDATE makes cross-batch precedence latest-batch-wins regardless of
    order_cols, silently inverting e.g. export_dedup's
    first_seen_neg_us-beats-recency contract (ADVICE r4). Ties fall through
    to update — the later batch's row wins, mirroring the local sink's
    epoch-desc tiebreak. Returns None when order_cols is empty
    (unconditional update, pure latest-batch-wins)."""
    if not order_cols:
        return None

    def beats(a: str, b: str) -> str:
        # lexicographic strict-greater of alias a over alias b, NULL lowest
        expr = "FALSE"
        for c in reversed(order_cols):
            gt = f"({a}.{c} IS NOT NULL AND ({b}.{c} IS NULL OR {a}.{c} > {b}.{c}))"
            eq = f"({a}.{c} IS NOT DISTINCT FROM {b}.{c})"
            expr = f"({gt} OR ({eq} AND {expr}))"
        return expr

    return f"(NOT {beats(tgt, src)})"


class IcebergMergeSink:
    """Production sink: one atomic Iceberg ``MERGE INTO`` per micro-batch,
    keyed by the business key — replayed epochs update the same rows, so the
    table converges to exactly-once regardless of retry history (the MERGE
    half of the design; the parquet IdempotentSink emulates it locally with
    epoch-keyed overwrite + merge-on-read).

    Requires Iceberg runtime jars + a configured catalog (not present in this
    sandbox — constructor raises early if absent; the code path is exercised
    on real deployments only).
    """

    def __init__(
        self,
        table: str,
        keys: tuple[str, ...] = ("conv_id", "turn_idx"),
        order_cols: tuple[str, ...] = (),
    ):
        self.table = table
        self.keys = list(keys)
        # intra-batch dedup precedence ("latest wins"); empty = all non-key
        # columns in name order — any DETERMINISTIC order works, it just has
        # to be a pure function of the row data so a checkpoint replay picks
        # the same survivor as the batch's first attempt
        self.order_cols = list(order_cols)

    @staticmethod
    def available(spark: SparkSession) -> bool:
        from stellar_etl_spark.sources.transcripts import _iceberg_available

        return _iceberg_available(spark)

    def foreach_batch(self, df: DataFrame, epoch_id: int) -> None:
        spark = df.sparkSession
        if not self.available(spark):
            raise RuntimeError("Iceberg runtime not on the classpath")
        # Iceberg raises a cardinality error if several source rows match one
        # target row; at-least-once delivery can duplicate keys within a
        # micro-batch, so dedup on the business key first with the SAME
        # shared resolution read_sink uses (key_precedence_dedup) — the pick
        # must be DETERMINISTIC across task retries and checkpoint replays
        # (exactly-once contract), and using one definition for both sinks is
        # what keeps their merged relations identical under any replay
        # history (asserted by test_merge_semantics_shared).
        df = key_precedence_dedup(df, self.keys, self.order_cols)
        view = f"_merge_src_{epoch_id}"
        df.createOrReplaceTempView(view)
        spark.sql(self.merge_statement(view))
        spark.catalog.dropTempView(view)

    def merge_statement(self, view: str) -> str:
        """The MERGE INTO text for one micro-batch view — pure function of
        (table, keys, order_cols) so the statement is unit-testable without
        Iceberg jars (tests/test_streaming.py::test_merge_statement_text)."""
        on = " AND ".join(f"t.{k} = s.{k}" for k in self.keys)
        # order_cols precedence must hold ACROSS batches too, not just inside
        # one — a conditional matched clause keeps e.g. a re-emitted
        # first-seen row from replacing the true earliest one
        cond = merge_update_condition(self.order_cols)
        matched = (
            "WHEN MATCHED THEN UPDATE SET *"
            if cond is None
            else f"WHEN MATCHED AND {cond} THEN UPDATE SET *"
        )
        return f"""
            MERGE INTO {self.table} t
            USING {view} s
            ON {on}
            {matched}
            WHEN NOT MATCHED THEN INSERT *
            """


def _write_json(path: str, obj) -> None:
    """Write ``obj`` as JSON to a temporary file in the same directory, then
    rename it over ``path``: a crash part-way through leaves the previous
    file intact instead of a truncated one."""
    tmp = os.path.join(
        os.path.dirname(path),
        f".{os.path.basename(path)}.{os.getpid()}-{threading.get_ident()}.tmp",
    )
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def _read_lineage(path: str) -> list[dict]:
    """Lineage records in epoch order (a compacted epoch is negative)."""
    lineage_dir = os.path.join(path, "_lineage")
    if not os.path.isdir(lineage_dir):
        return []
    out = []
    for name in os.listdir(lineage_dir):
        if name.startswith("epoch-") and name.endswith(".json"):
            with open(os.path.join(lineage_dir, name)) as f:
                out.append(json.load(f))
    return sorted(out, key=lambda rec: rec["epoch"])
